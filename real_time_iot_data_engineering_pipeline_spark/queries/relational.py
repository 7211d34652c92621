"""Relational analytics over the TPC-H-ish warehouse tables (customer /
orders / lineitem / supplier / nation / region, TESTDATA.md).

The reference's batch tier serves flat per-table aggregates; a user who
lands warehouse tables next to the stream immediately writes multi-join
analytical SQL over them.  This family exercises the join-planning
machinery the single-table families cannot: multi-way join ordering,
broadcast dimension chains, star-schema pruning, semi joins with
cross-side residuals, and top-k termination over joined aggregates.

Scale design (SCALE.md "Relational analytics"):
- dimension chains (region -> nation -> supplier/customer) broadcast —
  each is KBs; the fact tables (orders, lineitem) NEVER broadcast and
  join each other on their natural key via shuffle hash/sort-merge,
  which AQE can convert or skew-split at runtime;
- filters sit on the scan side of every join (predicate pushdown is
  plan-asserted) so the fact join sees post-filter cardinality;
- top-k over the joined aggregate terminates via TakeOrderedAndProject
  (per-partition top-k, driver merges partitions x k rows);
- the EXISTS form is a LeftSemi with the time-ordering residual inside
  the join condition — one pass, no distinct, no post-join dedup.

Beyond those, the module covers the rest of the classic TPC-H plan
shapes, adapted to the fixture schema (TESTDATA.md ships no partsupp and
no l_shipmode/l_commitdate/l_receiptdate, so Q11/Q16/Q20/Q21 use the
lineitem bridge and `l_shipdate - o_orderdate` lateness instead — the
PLAN shape each query exercises is preserved even where the business
constant differs).  Each is a distinct physical-plan pattern:

- scalar-aggregate-only (Q6): no shuffle at all, pure scan+partial agg;
- global-scalar broadcast into a filter (Q11, Q15, Q17): an aggregate
  over the whole input feeds a comparison on every row/group WITHOUT a
  SinglePartition exchange of the data side — the scalar is computed,
  broadcast, and the filter stays distributed;
- join-condition residual on an OUTER join (Q13): the filter must sit in
  the join ON-clause, not WHERE (WHERE would turn the left join inner);
- conditional share inside one aggregate (Q8): numerator CASE inside
  sum, single pass, no self-join;
- decorrelated EXISTS/NOT-EXISTS pair (Q21): the textbook correlated
  double-subquery compiled to ONE aggregation over the fact + a
  join-back — no per-row subquery execution, no double scan of the
  outer;
- nested semi-join chain (Q20): IN(IN(...)) compiled to LeftSemi joins
  that never widen the row.

Then repeat-purchase behavior and supply-base concentration (keyed
big-big join plus tiny-dimension broadcast), the order cycle time, the
warehouse-wide referential-integrity audit and a Laspeyres price index.

Reference parity: the reference's Spark tier (reference
spark/streaming_job.py) exposes only single-table aggregates; this
module is part of the beyond-reference warehouse tier SURVEY.md §2.9
plans for training-data/warehouse users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import fround, fround_sql
from ..registry import register
from ..sources import load_table

_REVENUE = "l_extendedprice * (1 - l_discount)"


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp_ntz")


@register(
    "q_pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {fround_sql("sum(l_quantity)")} AS sum_qty,
           {fround_sql("sum(l_extendedprice)")} AS sum_base_price,
           {fround_sql("sum(l_extendedprice * (1 - l_discount))")} AS sum_disc_price,
           {fround_sql("sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))")} AS sum_charge,
           {fround_sql("avg(l_quantity)")} AS avg_qty,
           {fround_sql("avg(l_extendedprice)")} AS avg_price,
           {fround_sql("avg(l_discount)")} AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape): the canonical scan-heavy
    aggregate — 8 running aggregates over computed expressions, grouped by
    two low-cardinality flags.  Everything stays inside whole-stage
    codegen; partial aggregation collapses each partition to at most
    |flags x statuses| rows before the one tiny shuffle, so the query is
    pure scan bandwidth at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            fround(F.sum("l_quantity"), 4).alias("sum_qty"),
            fround(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            fround(F.sum(disc_price), 4).alias("sum_disc_price"),
            fround(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias(
                "sum_charge"
            ),
            fround(F.avg("l_quantity"), 4).alias("avg_qty"),
            fround(F.avg("l_extendedprice"), 4).alias("avg_price"),
            fround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


@register(
    "q_ship_priority",
    oracle=f"""
    SELECT l_orderkey,
           {fround_sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-01-01'
      AND l_shipdate  > TIMESTAMP '1996-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-revenue top-10 (TPC-H Q3 shape): segment-filtered
    customers x pre-cutoff orders x post-cutoff lineitems, ranked by
    discounted revenue.  Customers broadcast (dimension-sized after the
    segment filter); orders<->lineitem is the one fact-fact shuffle; the
    top-10 terminates as TakeOrderedAndProject with l_orderkey as the
    deterministic tiebreak."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp_ntz"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(fround(F.sum(F.expr(_REVENUE)), 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q_region_revenue",
    oracle=f"""
    SELECT n_name,
           {fround_sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue
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
    """,
)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 shape): six-way star join — the
    region->nation dimension chain prunes suppliers/customers to one
    region BEFORE the fact joins, every dimension broadcasts, and the
    c_nationkey = s_nationkey residual ("customer and supplier in the
    same nation") rides the lineitem<->supplier join."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(fround(F.sum(F.expr(_REVENUE)), 4).alias("revenue"))
    )


@register(
    "q_priority_fill",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o.o_orderkey
                    AND l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_priority_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): quarterly orders with at
    least one lineitem shipped after the order date, counted per priority.
    The EXISTS compiles to ONE LeftSemi join with the cross-side
    l_shipdate > o_orderdate residual inside the join condition — no
    distinct pass, no row duplication to undo."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )


@register(
    "q_returned_revenue",
    oracle=f"""
    SELECT c_custkey,
           c_name,
           {fround_sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10 shape): top-20 customers by
    revenue lost to returns.  Aggregates on the high-cardinality customer
    key BEFORE attaching the name (broadcast join-back), so the shuffle
    carries (custkey, partial sum) pairs, and the top-20 terminates as
    TakeOrderedAndProject with c_custkey as the deterministic tiebreak."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(fround(F.sum(F.expr(_REVENUE)), 4).alias("revenue"))
    )
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q_min_cost_supplier",
    oracle=f"""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               {fround_sql("min(l_extendedprice / l_quantity)")} AS unit_cost
        FROM lineitem
        WHERE l_quantity > 0
        GROUP BY l_partkey, l_suppkey
    ),
    best AS (
        SELECT l_partkey, min(unit_cost) AS min_cost FROM ps GROUP BY l_partkey
    ),
    pick AS (
        SELECT ps.l_partkey, best.min_cost, min(ps.l_suppkey) AS pick_suppkey
        FROM ps JOIN best
          ON ps.l_partkey = best.l_partkey AND ps.unit_cost = best.min_cost
        GROUP BY ps.l_partkey, best.min_cost
    )
    SELECT p_partkey, p_name, p_brand, s_name, n_name, min_cost
    FROM pick
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = pick_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    ORDER BY min_cost DESC, p_partkey
    LIMIT 100
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier per part (TPC-H Q2 shape, with observed unit
    cost from lineitem standing in for the partsupp catalog the fixtures
    don't ship).  The classic correlated scalar subquery — "the supplier
    whose cost equals the minimum cost for that part" — expressed directly
    in its decorrelated form: the per-part argmin collapses into ONE
    aggregation via min(struct(cost, suppkey)), so Spark never runs the
    subquery per row and never joins the costs table against itself.

    Scale: lineitem shuffles once on (partkey, suppkey) for the unit-cost
    agg; the argmin reuses the partkey hash distribution (co-partitioned,
    AQE-coalesced); part/supplier/nation attach as broadcast dims; top-100
    terminates as TakeOrderedAndProject.  The self-join the SQL form
    implies (ps JOIN best) never materializes — struct-min is one pass."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        fround(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias(
            "unit_cost"
        )
    )
    pick = (
        ps.groupBy("l_partkey")
        .agg(F.min(F.struct("unit_cost", "l_suppkey")).alias("m"))
        .select(
            "l_partkey",
            F.col("m.unit_cost").alias("min_cost"),
            F.col("m.l_suppkey").alias("pick_suppkey"),
        )
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        pick.join(F.broadcast(part), pick.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), pick.pick_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("p_partkey", "p_name", "p_brand", "s_name", "n_name", "min_cost")
        .orderBy(F.desc("min_cost"), F.asc("p_partkey"))
        .limit(100)
    )


@register(
    "q_large_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 200
    )
    SELECT c.c_name,
           o.o_orderkey,
           o.o_orderdate,
           o.o_totalprice,
           {fround_sql("sum(l.l_quantity)")} AS total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders (TPC-H Q18 shape): an aggregate used as a FILTER
    — "orders whose total quantity exceeds 200" — then re-joined to its
    own detail rows plus the customer dimension.  The IN-subquery form
    becomes an explicit aggregate + semi-style equi-join, which is what a
    decorrelating optimizer produces anyway, but written directly so the
    plan is deterministic.

    Scale: lineitem shuffles ONCE on l_orderkey for the qualifying-key
    aggregate; the detail re-join reuses that same hash distribution
    (co-partitioned, AQE-coalesced, no second full shuffle of lineitem
    beyond the join itself); the qualifying-key set is a tiny fraction of
    orders (sum > 200 selects ~5%) so AQE typically demotes that side to a
    broadcast at runtime.  customer attaches as a broadcast dim AFTER the
    fact aggregation; top-100 terminates via TakeOrderedAndProject.

    Reference parity: the reference has no multi-join tier (batch_layer
    serves single-table aggregates) — this extends the warehouse family
    beyond it."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("order_qty"))
        .filter(F.col("order_qty") > 200)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.big_orderkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(fround(F.sum("l_quantity"), 4).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q_disjunctive_revenue",
    oracle=f"""
    SELECT p.p_brand,
           {fround_sql("sum(l.l_extendedprice * (1 - l.l_discount))")} AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 40)
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive-predicate revenue (TPC-H Q19 shape): an OR-of-ANDs
    join predicate mixing columns from BOTH sides — the classic test of
    predicate decomposition.  Catalyst splits the disjunction into its
    single-side implications: the part scan receives
    `p_brand IN (...) AND p_size <= 35`-style pushed filters, the
    lineitem scan receives the OR of the quantity ranges (l_quantity
    between 1 and 40), and only the mixed residual is evaluated on the
    joined rows — so both scans prune BEFORE the join instead of
    filtering its cross product after.

    Scale: part (post-filter, dimension-sized) broadcasts; lineitem never
    shuffles — scan, pushed range filter, broadcast hash probe, partial
    agg to |brands| rows.  The whole query is one codegen pass over the
    fact scan at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 40)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .groupBy("p_brand")
        .agg(
            fround(F.sum(F.expr(_REVENUE)), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


@register(
    "q_nation_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {fround_sql("sum(volume)")} AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral shipping volume (TPC-H Q7 shape): revenue between a
    nation PAIR in both directions, by shipment year.  The signature
    planner feature is the disjunction over the (supplier-nation,
    customer-nation) pair — it cannot be pushed to either scan alone,
    but each disjunct's single-side implication CAN: both nation dims
    pre-filter to the 2-nation set before the fact joins.

    Scale: nation -> supplier and nation -> customer chains broadcast
    (each dimension-sized after the 2-nation prune); lineitem and orders
    join on l_orderkey as the one fact-fact shuffle (AQE-convertible /
    skew-splittable); the pair disjunction evaluates as the residual on
    the joined row; the final agg is |2 x 2 x years| rows."""
    nations = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(nations.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(nations.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            fround(F.sum(F.expr(_REVENUE)), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q_dormant_rich",
    oracle=f"""
    WITH avg_bal AS (
        SELECT {fround_sql("avg(c_acctbal)", 6)} AS ab
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_custkey, c.c_name,
           {fround_sql("c.c_acctbal")} AS acctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c.c_custkey
    """,
)
def q_dormant_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant high-balance customers (TPC-H Q22 shape): a scalar
    aggregate subquery (global positive-balance average) feeding a
    filter, then NOT EXISTS against orders — the canonical
    scalar-subquery + anti-join pattern.

    Scale: the scalar average is a single-row partial aggregate that
    broadcasts into the filter (never a SinglePartition exchange of
    customer rows); the NOT EXISTS is a LeftAnti equi-join on custkey —
    the orders side ships only its join column through the exchange, and
    the anti join needs no pre-distinct (semi/anti semantics dedup for
    free).  The average is quantized at 6 dp on both engines so the
    threshold comparison cannot flip on summation-order ulps."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(fround(F.avg("c_acctbal"), 6).alias("ab"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select(
            "c_custkey",
            "c_name",
            fround(F.col("c_acctbal"), 4).alias("acctbal"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q_promo_share",
    oracle=f"""
    SELECT {fround_sql(
        "100.0 * sum(CASE WHEN p.p_type = 'PROMO' "
        "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END) "
        "/ sum(l.l_extendedprice * (1 - l.l_discount))"
    )} AS promo_share,
           {fround_sql(
        "sum(CASE WHEN p.p_type = 'PROMO' "
        "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)"
    )} AS promo_revenue,
           {fround_sql("sum(l.l_extendedprice * (1 - l.l_discount))")} AS total_revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    """,
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share (TPC-H Q14 shape): the conditional-
    aggregate-over-join pattern — one scan computes both the guarded and
    the unguarded sum, and the report is their ratio.  The alternative
    (two filtered subqueries self-joined) would scan lineitem twice;
    the CASE form is the one-pass shape every reporting layer should
    emit.

    Scale: the shipdate range pushes into the lineitem scan; part
    broadcasts; both sums partial-aggregate to ONE row per partition, so
    the query is a single codegen pass over the pruned fact scan at
    100 TB.  The ratio divides two engine-identical ordered sums and is
    quantized at 4 dp (summation-order ulps are 1e-16 relative, far
    below the fround bias)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            fround(F.lit(100.0) * F.sum(promo_rev) / F.sum(rev), 4).alias(
                "promo_share"
            ),
            fround(F.sum(promo_rev), 4).alias("promo_revenue"),
            fround(F.sum(rev), 4).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H plan shapes (Q6, Q8, Q9, Q11, Q13, Q15-Q17, Q20, Q21)
# ---------------------------------------------------------------------------


@register(
    "q_forecast_revenue",
    oracle=f"""
    SELECT {fround_sql("sum(l_extendedprice * l_discount)")} AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change scalar aggregate (TPC-H Q6 shape): the
    purest scan query in the suite — four pushed-down predicates, two
    aggregates, zero joins, zero GROUP BY.  The plan is scan -> partial
    agg -> single-row final agg; at 100 TB the cost is exactly parquet
    scan bandwidth over the (shipdate-prunable) row groups, which makes
    this the canonical query for checking that predicate pushdown and
    column pruning reach the reader (plan-asserted in tests)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            fround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


@register(
    "q_mkt_share",
    oracle=f"""
    SELECT o_year,
           {fround_sql("sum(CASE WHEN supp_nation = 'NATION_5' THEN rev ELSE 0 END) / sum(rev)")} AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS rev,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q_mkt_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): the share a supplier
    nation holds of revenue delivered into a region, by order year.  The
    distinctive pattern is the CONDITIONAL NUMERATOR — `sum(CASE WHEN
    supp_nation = X THEN rev END) / sum(rev)` in ONE aggregation pass —
    where a naive translation runs two aggregates and joins them.  All
    five dimension hops (customer/supplier nation chains) broadcast;
    orders<->lineitem is the only fact-fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1998-01-01"))
        )
        .select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = F.broadcast(
        nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        ).select(F.col("n_nationkey").alias("cust_nationkey"))
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(asia_nations, F.col("c_nationkey") == F.col("cust_nationkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        joined.groupBy("o_year")
        .agg(
            fround(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           year(o_orderdate) AS o_year,
           {fround_sql(
               "sum(l_extendedprice * (1 - l_discount)"
               " - 0.6 * p_retailprice * l_quantity)"
           )} AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (TPC-H Q9 shape; the fixture has no
    ps_supplycost, so cost is the documented 0.6 * p_retailprice proxy):
    profit per supplier nation per year over name-matched parts.  The
    LIKE filter sits on the part scan and the part dim broadcasts, so
    the selective predicate prunes the fact join via the broadcast hash
    table rather than a post-join filter; nation/supplier broadcast; the
    only shuffle partners lineitem with orders."""
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(fround(F.sum(amount), 4).alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "q_important_parts",
    oracle=f"""
    SELECT l_partkey AS partkey,
           {fround_sql("sum(l_extendedprice * (1 - l_discount))")} AS part_value
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
    GROUP BY l_partkey
    HAVING sum(l_extendedprice * (1 - l_discount)) > (
        SELECT 0.001 * sum(l_extendedprice * (1 - l_discount))
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
    )
    ORDER BY part_value DESC, partkey
    """,
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (TPC-H Q11 shape, lineitem value
    standing in for partsupp inventory value): parts whose traded value
    from one nation's suppliers exceeds a fraction of that nation's
    total.  The plan pattern is GLOBAL-SCALAR BROADCAST: the per-part
    aggregate is computed once, the grand total is derived from the SAME
    aggregate (a second tiny agg over ~|parts| rows, not a second fact
    scan), and the threshold joins back as a broadcast nested-loop of a
    single row — the fact table is scanned exactly once."""
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(value).alias("_raw_value"))
    )
    total = per_part.agg(
        (F.sum("_raw_value") * 0.001).alias("_threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_raw_value") > F.col("_threshold"))
        .select(
            "partkey", fround(F.col("_raw_value"), 4).alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), "partkey")
    )


@register(
    "q_custdist",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): histogram of
    per-customer non-urgent order counts INCLUDING zero-order customers.
    Two things make this a distinct plan: (1) the priority filter lives
    in the LEFT JOIN's ON-clause — in WHERE it would discard the NULL
    rows and silently drop zero-order customers; (2) the double
    aggregation (per-customer count, then histogram of counts) where the
    second agg's input is already tiny.  count(o_orderkey) counts
    non-null matches only, which is what makes the zero bucket appear."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey,
               {fround_sql("sum(l_extendedprice * (1 - l_discount))")} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by quarterly revenue (TPC-H Q15 shape, the view +
    scalar-max pattern): revenue per supplier over one quarter, keeping
    every supplier tied at the maximum.  The per-supplier aggregate is
    computed ONCE and reused for both the max and the final filter
    (Spark reuses the exchange; no second fact scan), and the max joins
    back as a broadcast single row.  Revenue is quantized to 4 dp BEFORE
    the max comparison on both engines so tie membership is identical by
    construction."""
    # The explicit isNotNull matches the non-null requirement the join
    # side pushes into its scan, making the two rev subtrees byte-identical
    # so AQE's exchange reuse computes the aggregate once (plan-asserted).
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
        & F.col("l_suppkey").isNotNull()
    )
    rev = li.groupBy("l_suppkey").agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "total_revenue"
        )
    )
    top = rev.agg(F.max("total_revenue").alias("_max_rev"))
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q_part_supplier_count",
    oracle="""
    SELECT p_brand, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 9, 17, 25, 33, 41, 49)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    LIMIT 40
    """,
)
def q_part_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier diversity per part group (TPC-H Q16 shape; lineitem is
    the part<->supplier bridge since the fixture ships no partsupp, and
    negative account balance stands in for the complaints comment
    filter): distinct suppliers per (brand, size) excluding blacklisted
    suppliers.  The exclusion compiles to a broadcast LEFT ANTI join
    (NOT IN over a provably non-null key set), applied BEFORE the
    count-distinct so excluded rows never reach the expensive agg; the
    count-distinct itself is Spark's two-phase partial-distinct expand,
    not a global distinct shuffle."""
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 9, 17, 25, 33, 41, 49)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    bad_supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
        .limit(40)
    )


@register(
    "q_small_qty_revenue",
    oracle=f"""
    SELECT {fround_sql("sum(l_extendedprice) / 7.0")} AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
        SELECT l_partkey AS t_partkey,
               {fround_sql("0.2 * avg(l_quantity)")} AS qty_threshold
        FROM lineitem
        GROUP BY l_partkey
    ) ON p_partkey = t_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < qty_threshold
    """,
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): revenue from
    lineitems whose quantity is below 20% of the PER-PART average — the
    canonical correlated scalar subquery, decorrelated to one per-part
    aggregate joined back to the fact.  The brand filter broadcasts into
    both the fact scan and (via the join) the threshold side; the
    threshold (one row per part, dimension-sized) broadcasts, so the
    fact is scanned twice but never shuffled.  The threshold is
    quantized to 4 dp on both engines so boundary membership can't flip
    on summation order."""
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thresholds = (
        li.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg(fround(0.2 * F.avg("l_quantity"), 4).alias("qty_threshold"))
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(thresholds), F.col("p_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(fround(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@register(
    "q_excess_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
      AND s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem
          WHERE l_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
          )
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1997-01-01'
          GROUP BY l_suppkey
          HAVING sum(l_quantity) > 400
      )
    ORDER BY s_suppkey
    """,
)
def q_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-volume suppliers of a part family (TPC-H Q20 shape): the
    nested IN(IN(...)) chain — suppliers in one nation who shipped more
    than a threshold quantity of red parts in 1996.  Both IN-subqueries
    compile to semi-join shapes that never widen the fact row: the part
    filter broadcasts as a LeftSemi into the lineitem scan, the
    per-supplier HAVING aggregate reduces to supplier cardinality before
    touching the supplier table, and the nation filter broadcasts.  No
    distinct, no exists-loop, one fact scan."""
    red_parts = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    heavy = (
        li.join(red_parts, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 400)
        .select("l_suppkey")
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_7")
        .select("n_nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    return (
        supp.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "q_waiting_suppliers",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders      ON o_orderkey = l1.l_orderkey
    JOIN nation      ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 shape; "late" is
    `l_shipdate > o_orderdate + 90 days` since the fixture has no
    commit/receipt dates): for finished orders with at least two
    suppliers, count per supplier the orders where THEY were the only
    late one.  The oracle states it with the textbook correlated
    EXISTS / NOT EXISTS pair; this implementation DECORRELATES both into
    one per-order aggregate — n_suppliers and n_late_suppliers via two
    count-distincts over the same grouping — joined back to the late
    rows.  One extra aggregation instead of two correlated per-row
    subqueries; the fact joins itself through an aggregate of
    |orders| rows, never row-by-row."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    with_orders = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).withColumn(
        "_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
    )
    per_order = with_orders.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("_n_supp"),
        F.count_distinct(
            F.when(F.col("_late"), F.col("l_suppkey"))
        ).alias("_n_late_supp"),
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4"))
        .select("n_nationkey")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )
    lone_late = (
        with_orders.filter(F.col("_late"))
        .join(
            per_order.filter(
                (F.col("_n_supp") > 1) & (F.col("_n_late_supp") == 1)
            ).select(F.col("l_orderkey").alias("_ok")),
            F.col("l_orderkey") == F.col("_ok"),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        lone_late.groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


@register(
    "q_cycle_time",
    oracle=f"""
    WITH done AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               date_diff('day', o.o_orderdate, s.last_ship) AS days
        FROM orders o
        JOIN (
            SELECT l_orderkey, max(l_shipdate) AS last_ship
            FROM lineitem GROUP BY l_orderkey
        ) s ON s.l_orderkey = o.o_orderkey
        WHERE s.last_ship >= o.o_orderdate
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           {fround_sql("avg(days)", 4)} AS mean_days,
           {fround_sql("quantile_cont(days, 0.5)", 4)} AS p50_days,
           {fround_sql("quantile_cont(days, 0.9)", 4)} AS p90_days,
           CAST(max(days) AS BIGINT) AS max_days
    FROM done
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order fulfillment cycle time by priority: days from order date to
    last shipment, summarized per priority class with count, mean, exact
    p50/p90, and worst case — the operational SLA table that shows
    whether 1-URGENT orders actually ship faster than 5-LOW (on this
    fixture they do not, which is itself the finding an ops review would
    flag).  Orders shipping before their order date (none here) or
    without lineitems are excluded identically on both engines.

    Scale: the last-shipment reduction partial-aggregates lineitem per
    order before the join; the summary reduces |orders| pre-joined rows
    to |priorities| cells with the exact-percentile aggregate
    (approx_percentile is the documented unbounded-domain swap, as in
    q_quantile_summary).  Day differences are calendar date_diff /
    datediff — integer-exact, no float drift to guard."""
    last = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    done = (
        load_table(spark, sf_dir, "orders")
        .join(last, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("last_ship") >= F.col("o_orderdate"))
        .select(
            "o_orderpriority",
            F.datediff("last_ship", "o_orderdate").alias("days"),
        )
    )
    return (
        done.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            fround(F.avg("days"), 4).alias("mean_days"),
            fround(F.expr("percentile(days, 0.5)"), 4).alias("p50_days"),
            fround(F.expr("percentile(days, 0.9)"), 4).alias("p90_days"),
            F.max("days").cast("long").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit across the whole warehouse
# ---------------------------------------------------------------------------

_PK_CHECKS = (
    ("pk:region", "region", ("r_regionkey",)),
    ("pk:nation", "nation", ("n_nationkey",)),
    ("pk:customer", "customer", ("c_custkey",)),
    ("pk:supplier", "supplier", ("s_suppkey",)),
    ("pk:part", "part", ("p_partkey",)),
    ("pk:orders", "orders", ("o_orderkey",)),
    ("pk:lineitem", "lineitem", ("l_orderkey", "l_linenumber")),
    ("pk:events", "events", ("event_id",)),
    ("pk:documents", "documents", ("doc_id",)),
    ("pk:embeddings", "embeddings", ("vec_id",)),
)

_FK_CHECKS = (
    ("fk:lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("fk:lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("fk:lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("fk:orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("fk:customer.nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("fk:supplier.nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("fk:nation.regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
)


def _pk_duck(name, table, cols) -> str:
    keys = ", ".join(cols)
    return f"""
    SELECT '{name}' AS check_name,
           CAST((SELECT count(*) FROM {table}) AS BIGINT) AS n_checked,
           CAST((SELECT count(*) FROM {table})
                - (SELECT count(*) FROM (SELECT DISTINCT {keys} FROM {table}))
                AS BIGINT) AS n_violations
    """


def _fk_duck(name, child, ck, parent, pk) -> str:
    return f"""
    SELECT '{name}' AS check_name,
           CAST((SELECT count(*) FROM {child} WHERE {ck} IS NOT NULL)
                AS BIGINT) AS n_checked,
           CAST((SELECT count(*) FROM {child} c
                 WHERE c.{ck} IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM {parent} p
                                   WHERE p.{pk} = c.{ck}))
                AS BIGINT) AS n_violations
    """


@register(
    "q_integrity_audit",
    oracle="\nUNION ALL\n".join(
        [_pk_duck(*c) for c in _PK_CHECKS]
        + [_fk_duck(*c) for c in _FK_CHECKS]
    )
    + "\nORDER BY check_name",
)
def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-wide referential-integrity audit: primary-key uniqueness
    for all ten tables and orphan checks for all seven foreign-key
    relationships, as one check table (check_name, rows checked,
    violations) — the dbt-test / great-expectations sweep a warehouse
    runs after every load, generalizing the events-only validation suite
    to the relational schema.

    Scale: every table is scanned
    EXACTLY ONCE.  Each row explodes into one (check, key-string) entry
    per check that table participates in — its PK plus every FK column it
    carries — and one persisted groupBy(check, key) pass yields, per
    check, the row count (sum of per-key counts), the distinct-key count
    (PK violations = rows - groups), and the per-key counts the orphan
    join needs.  The FK orphan check then LEFT ANTI joins the child's
    grouped keys against the PARENT's grouped PK keys — which come from
    the same pass, so parent tables are not re-scanned either.  The old
    shape (17 independent aggregates) cost up to 7 passes over lineitem
    alone; at 100 TB, scans dominate and this is the difference between
    one pass over the warehouse and seventeen."""
    SEP = "\x01"
    NULLTAG = "\x02null"
    fk_by_table: dict[str, list[tuple[str, str, str, str]]] = {}
    for name, child, ck, parent, pk in _FK_CHECKS:
        fk_by_table.setdefault(child, []).append((name, ck, parent, pk))

    parts = []
    for name, table, cols in _PK_CHECKS:
        fks = fk_by_table.get(table, ())
        t = load_table(spark, sf_dir, table).select(
            *{c for c in cols} | {ck for _, ck, _, _ in fks}
        )
        # PK key string: NULLTAG-coalesced so null-containing keys stay
        # distinct groups (matching SELECT DISTINCT); single-column parent
        # PKs are never null in a valid key column, so the encoding equals
        # the child FK's plain cast and the orphan join keys line up.
        pk_key = F.concat_ws(
            SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(NULLTAG)) for c in cols]
        )
        entries = [
            F.struct(F.lit(name).alias("check"), pk_key.alias("k"))
        ]
        for fk_name, ck, _, _ in fks:
            # null FK values are exempt (SQL FK semantics): a null key makes
            # the entry null and the post-explode filter drops it
            entries.append(
                F.struct(
                    F.lit(fk_name).alias("check"),
                    F.col(ck).cast("string").alias("k"),
                )
            )
        parts.append(
            t.select(F.explode(F.array(*entries)).alias("e"))
            .select("e.check", "e.k")
            .filter(F.col("k").isNotNull())
        )
    all_entries = parts[0]
    for p in parts[1:]:
        all_entries = all_entries.unionByName(p)
    # eager localCheckpoint: three consumers (per-check stats, orphan
    # child side, orphan parent side) must not re-trigger the table scans
    grouped = (
        all_entries.groupBy("check", "k")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    stats = grouped.groupBy("check").agg(
        F.sum("cnt").cast("long").alias("n_checked"),
        (F.sum("cnt") - F.count("*")).cast("long").alias("dup_violations"),
    )
    fk_parent = spark.createDataFrame(
        [(name, f"pk:{parent}") for name, _, ck, parent, _ in _FK_CHECKS],
        "check string, parent_check string",
    )
    parent_keys = grouped.select(
        F.col("check").alias("parent_check"), "k"
    ).join(
        F.broadcast(fk_parent.select("parent_check").distinct()),
        "parent_check",
    )
    orphan = (
        grouped.join(F.broadcast(fk_parent), "check")
        .join(parent_keys, ["parent_check", "k"], "left_anti")
        .groupBy("check")
        .agg(F.sum("cnt").cast("long").alias("orphan_violations"))
    )
    is_fk = F.col("check").startswith("fk:")
    return (
        stats.join(orphan, "check", "left")
        .select(
            F.col("check").alias("check_name"),
            "n_checked",
            F.when(is_fk, F.coalesce("orphan_violations", F.lit(0)))
            .otherwise(F.col("dup_violations"))
            .cast("long")
            .alias("n_violations"),
        )
        .orderBy("check_name")
    )


# ---------------------------------------------------------------------------
# Laspeyres price index over the order months
# ---------------------------------------------------------------------------


@register(
    "q_price_index",
    oracle=f"""
    WITH li AS (
        SELECT l_partkey,
               date_trunc('month', CAST(o.o_orderdate AS TIMESTAMP)) AS month,
               l_quantity, l_extendedprice
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    monthly AS (
        SELECT month, l_partkey,
               sum(l_quantity) AS qty,
               sum(l_extendedprice) / sum(l_quantity) AS unit_price
        FROM li GROUP BY month, l_partkey
    ),
    base_month AS (SELECT min(month) AS m0 FROM monthly),
    base AS (
        SELECT l_partkey, qty AS q0, unit_price AS p0
        FROM monthly, base_month WHERE month = m0
    ),
    matched AS (
        SELECT m.month, CAST(count(*) AS BIGINT) AS n_parts,
               sum(m.unit_price * b.q0) AS cur_basket,
               sum(b.p0 * b.q0) AS base_basket
        FROM monthly m JOIN base b USING (l_partkey)
        GROUP BY m.month
    )
    SELECT month, n_parts,
           {fround_sql("100 * cur_basket / base_basket")} AS laspeyres
    FROM matched
    ORDER BY month
    """,
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index by order month: the base month's quantities
    price a fixed basket in every later month (100 x sum p_t q_0 / sum
    p_0 q_0 over the parts present in both months) — the
    matched-sample inflation readout a pricing team tracks, beside the
    promo/share and elasticity views.  Unit prices derive as
    extendedprice/quantity inside a (month, part) partial aggregate.

    Scale: one fact scan joined to the broadcast order-date dim side is
    avoided entirely — orders joins on the order key (co-partitioned);
    the monthly-price table partial-aggregates on (month, part); the
    base basket is one month's slice of that table and joins back on the
    part key.  The matched-basket caveat (parts absent from the base
    month drop out) is the standard index-number trade and is reported
    via n_parts."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_partkey",
            F.date_trunc("month", "o_orderdate").alias("month"),
            "l_quantity",
            "l_extendedprice",
        )
    )
    # monthly fans into the base-month scalar, the base basket, and the
    # matched join: lazily composed, the lineitem-orders join + monthly
    # aggregation ran 3x.  One eager checkpoint of the (month, part)-grain
    # table bounds it at one pass.
    monthly = li.groupBy("month", "l_partkey").agg(
        F.sum("l_quantity").alias("qty"),
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("unit_price"),
    ).localCheckpoint(eager=True)
    m0 = monthly.agg(F.min("month").alias("m0"))
    base = (
        monthly.crossJoin(F.broadcast(m0))
        .filter(F.col("month") == F.col("m0"))
        .select(
            "l_partkey",
            F.col("qty").alias("q0"),
            F.col("unit_price").alias("p0"),
        )
    )
    matched = (
        monthly.join(base, "l_partkey")
        .groupBy("month")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum(F.col("unit_price") * F.col("q0")).alias("cur_basket"),
            F.sum(F.col("p0") * F.col("q0")).alias("base_basket"),
        )
    )
    return matched.select(
        "month",
        "n_parts",
        fround(100 * F.col("cur_basket") / F.col("base_basket"), 4).alias(
            "laspeyres"
        ),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# Repeat purchase and supply-base concentration
# ---------------------------------------------------------------------------


@register(
    "q_order_reorder_rate",
    oracle=f"""
    WITH cp AS (
        SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
               count(DISTINCT l.l_orderkey) AS n_orders,
               epoch(max(o.o_orderdate)) - epoch(min(o.o_orderdate))
                   AS span_sec
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, l.l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_reorder_pairs,
           {fround_sql(
               "sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)"
               " / CAST(count(*) AS DOUBLE)",
               6,
           )} AS reorder_rate,
           {fround_sql(
               "avg(CASE WHEN n_orders >= 2 THEN"
               " span_sec / 86400.0 / (n_orders - 1) END)",
               4,
           )} AS avg_reorder_gap_days
    FROM cp
    """,
)
def q_order_reorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase report: of all (customer, part) pairs ever ordered,
    what fraction was ordered in >=2 distinct orders, and the average
    spacing (order-date span / (n_orders - 1)) of those reorders — the
    loyalty/replenishment signal behind also-bought recommendations.

    Scale: ONE keyed big-big equi-join (lineitem -> orders on the order
    key; at 100 TB both sides bucket on l_orderkey so the join is
    co-located), then a partial-aggregating groupBy on the (cust, part)
    pair key and a scalar rollup.  count(DISTINCT l_orderkey) inside the
    pair group is the two-phase expand Spark plans natively."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            (
                F.unix_timestamp(F.max("o_orderdate"))
                - F.unix_timestamp(F.min("o_orderdate"))
            ).alias("span_sec"),
        )
    )
    reordered = F.col("n_orders") >= 2
    return cp.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(reordered.cast("long")).cast("long").alias("n_reorder_pairs"),
        fround(
            F.sum(reordered.cast("long")) / F.count("*").cast("double"), 6
        ).alias("reorder_rate"),
        fround(
            F.avg(
                F.when(
                    reordered,
                    F.col("span_sec")
                    / F.lit(86400.0)
                    / (F.col("n_orders") - 1),
                )
            ),
            4,
        ).alias("avg_reorder_gap_days"),
    )


@register(
    "q_supplier_herfindahl",
    oracle=f"""
    WITH ps AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               sum(l_quantity) AS qty
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    per_part AS (
        SELECT partkey,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               sum(qty * qty) / (sum(qty) * sum(qty)) AS h
        FROM ps GROUP BY partkey
    )
    SELECT n_suppliers,
           CAST(count(*) AS BIGINT) AS n_parts,
           {fround_sql("avg(h)", 6)} AS avg_hhi,
           {fround_sql("min(h)", 6)} AS min_hhi,
           {fround_sql("max(h)", 6)} AS max_hhi
    FROM per_part
    GROUP BY n_suppliers
    """,
)
def q_supplier_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-base concentration: per part, the Herfindahl index of
    supplier quantity shares (sum of squared shares; 1 = single-sourced),
    rolled up by supplier-count bucket — the supply-risk histogram a
    procurement dashboard shows (how much of the catalog is effectively
    single-sourced despite having many listed suppliers).

    Scale: two stacked partial aggregations on part-keyed data —
    (part, supplier) quantity, then per-part share-square sum via a
    window over the per-part supplier rows (bounded fan-in: suppliers per
    part), then a |distinct supplier-count|-row rollup.  No joins at all."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.sum("l_quantity").alias("qty"))
    )
    per_part = ps.groupBy("partkey").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        (
            F.sum(F.col("qty") * F.col("qty"))
            / (F.sum("qty") * F.sum("qty"))
        ).alias("h"),
    )
    return per_part.groupBy("n_suppliers").agg(
        F.count("*").cast("long").alias("n_parts"),
        fround(F.avg("h"), 6).alias("avg_hhi"),
        fround(F.min("h"), 6).alias("min_hhi"),
        fround(F.max("h"), 6).alias("max_hhi"),
    )


@register(
    "q_order_priority_exists",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog (order-priority checking): orders placed in 1996
    with at least one line item shipped more than 30 days after the order
    date, counted per priority — the classic EXISTS-correlated-subquery
    shape.  The fixture schema carries no commit/receipt dates
    (TESTDATA.md), so ship-vs-order lateness stands in for Q4's
    commit-vs-receipt predicate.

    Scale: the EXISTS compiles to a LEFT SEMI hash join keyed on the
    order key (first match short-circuits; no duplication of the orders
    side however many line items qualify).  The orderdate range filter
    pushes into the orders scan, shrinking the build side before the
    join; at 100 TB both tables bucket on the order key so the semi join
    is co-located, and the tiny priority rollup partial-aggregates."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    qualifying = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
        "left_semi",
    )
    return (
        qualifying.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q_late_shipment_mix",
    oracle=f"""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                          AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS late_high_count,
           CAST(sum(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                          AND o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS late_low_count,
           CAST(count(*) AS BIGINT) AS line_count,
           {fround_sql(
               "sum(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY"
               " THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)",
               6,
           )} AS late_frac
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def q_late_shipment_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analog (shipping-priority mix): per return flag, how many
    line items shipped more than 90 days after their order date split by
    high (URGENT/HIGH) vs lower order priority, plus the overall late
    fraction — Q12's conditional-aggregation-over-a-join shape with
    ship-vs-order lateness standing in for the schema's missing
    shipmode/receipt columns.

    Scale: ONE keyed big-big equi-join on the order key (co-located under
    bucketing; no filter, so the join IS the query) followed by a 3-group
    conditional rollup that partial-aggregates map-side — the shuffle
    carries 3 keys x a handful of counters, nothing else."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAY"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    # CASE-exact counting (F.when ... otherwise 0), NOT sum(bool.cast):
    # a NULL ship/order date makes `late` three-valued NULL, which the
    # cast-and-sum idiom SKIPS (an all-NULL group sums to NULL and the
    # pandas bridge floats the int column) while the oracle's CASE maps
    # it to 0.  when/otherwise routes NULL conditions to the ELSE branch,
    # matching SQL CASE in both engines (hostile-relational suite trap).
    one_if = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    return (
        j.groupBy("l_returnflag")
        .agg(
            one_if(late & high).cast("long").alias("late_high_count"),
            one_if(late & ~high).cast("long").alias("late_low_count"),
            F.count("*").cast("long").alias("line_count"),
            fround(
                one_if(late) / F.count("*").cast("double"), 6
            ).alias("late_frac"),
        )
        .orderBy("l_returnflag")
    )
