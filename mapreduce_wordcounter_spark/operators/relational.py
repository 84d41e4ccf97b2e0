"""Relational operator breadth over the TPC-H-ish tables (SURVEY.md §7
phase 3).

The reference has NO joins, sorts, windows, set ops, or scalar-function
surface (SURVEY.md §2.2) — this module is the deliberate extension
surface, every operator declared with an exact DuckDB oracle.

Oracle-parity conventions used throughout (see tests/test_oracle_parity.py):
- double aggregates go through ``dsum``/``davg`` (exact decimal
  intermediate → order-independent, engine-independent);
- timestamps are emitted as formatted strings after pinning the session
  to UTC (the driver's session isn't UTC-pinned);
- every LIMIT has a total-order ``ORDER BY`` so the cut line is
  deterministic;
- irrational per-row math (sqrt/ln/exp) is rounded to 6 decimals (libm
  vs JVM may differ in the last ulp).

Scale posture (100 TB): every query below is expressed declaratively so
Catalyst chooses the physical join/agg strategy; explicitly small dims
(region, nation, literal band tables) are broadcast-hinted, big-big
joins are left to sort-merge + AQE (skew-join splitting enabled in the
session factory). Filters/projections sit directly on the parquet scan
so pushdown & column pruning apply — asserted in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mapreduce_wordcounter_spark.functions.numeric import (
    SCALE,
    davg,
    dsum,
    quantize,
    sql_davg,
    sql_dsum,
)
from mapreduce_wordcounter_spark.functions.portable import (
    md5h,
    sql_md5h,
    sql_words,
    words,
)
from mapreduce_wordcounter_spark.registry import query
from mapreduce_wordcounter_spark.session import ensure_utc
from mapreduce_wordcounter_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Scans, filters, projections (pushdown-friendly by construction)
# ---------------------------------------------------------------------------


@query(
    "scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate < TIMESTAMP '1998-02-01'
      AND l_quantity > 45
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective scan: both predicates and the 4-column projection reach
    the parquet reader (PushedFilters/ReadSchema — tests/test_plans.py)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1998-01-01")
        & (F.col("l_shipdate") < "1998-02-01")
        & (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide multi-aggregate after a pushed-down range
    filter. One shuffle on the (tiny) grouping key; partial aggregation
    absorbs everything map-side."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "2000-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag → flag+status → grand total)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum(F.col("l_quantity"), "sum_qty")
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), dsum(F.col("o_totalprice"), "sum_price")
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither a rollup nor a full cube:
    per-status totals, per-priority totals, grand total) with a
    GROUPING() disambiguator so all-NULL rows are attributable.
    Spark expands the sets map-side and aggregates once (SCALE.md §2).
    """
    o = _t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        (
            F.grouping("o_orderstatus") + 2 * F.grouping("o_orderpriority")
        ).alias("gid"),
        F.count("*").alias("n"),
        dsum(F.col("o_totalprice"), "sum_price"),
    )


@query(
    "agg_stats",
    oracle=f"""
    SELECT l_returnflag,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           {sql_davg('l_extendedprice', 'avg_price')},
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS std_price,
           ROUND(VAR_SAMP(l_extendedprice), 4) AS var_price,
           COUNT(DISTINCT l_suppkey) AS n_supp
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (min/max/avg/stddev/variance/distinct).
    stddev/variance rounded: both engines use numerically-stable
    one-pass algorithms but may differ at ~1e-10 relative."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg(F.col("l_extendedprice"), "avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_extendedprice"), 4).alias("var_price"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )


@query(
    "agg_median",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles. At 100 TB prefer
    percentile_approx (t-digest) — registered as agg_p90_approx."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
    )


@query(
    "agg_p90_approx",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS p90_within_bracket
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_p90_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile — the scale path — under a SEMI-ORACLE
    (VERDICT r11 #6): the estimate itself is engine-specific, so the
    query emits per-group row counts (hash-checked) plus the
    estimator's contract as a boolean — percentile_approx(0.9,
    accuracy=10000) must land between the exact p85 and p95 of its
    group. A drifting sketch fails the external hash, not just the
    local pytest (which keeps the raw bracket)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.percentile_approx("l_quantity", 0.9, 10000)
        .between(
            F.expr("percentile(l_quantity, 0.85)"),
            F.expr("percentile(l_quantity, 0.95)"),
        )
        .alias("p90_within_bracket"),
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )


@query(
    "agg_conditional",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           {sql_dsum("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END", 'urgent_revenue')}
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN inside aggregates (conditional aggregation)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)).alias("n_big"),
        dsum(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")).otherwise(0.0),
            "urgent_revenue",
        ),
    )


@query(
    "agg_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'qty_f')},
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'qty_o')}
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT linestatus into columns (oracle: equivalent conditional
    aggregation — DuckDB's PIVOT generates the same plan)."""
    li = _t(spark, sf_dir, "lineitem")
    from mapreduce_wordcounter_spark.functions.numeric import SCALE, quantize

    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg((F.sum(quantize(F.col("l_quantity"))).cast("double") / SCALE))
    )
    return piv.select(
        "l_returnflag",
        F.col("F").alias("qty_f"),
        F.col("O").alias("qty_o"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "join_broadcast_dims",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension join with an explicit broadcast hint: at any scale
    region/nation fit in memory, so no shuffle of the fact side ever
    happens (BroadcastHashJoin asserted in tests/test_plans.py)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@query(
    "join_fact_revenue",
    oracle=f"""
    SELECT o_orderstatus, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           COUNT(*) AS n_items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_fact_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big equi-join (orders ⋈ lineitem). Left to Catalyst: at
    sf0.1 AQE may choose broadcast; at 100 TB it is a sort-merge join
    on the shared l_orderkey/o_orderkey key — co-partitionable via
    bucketing (see sources/bucketed.py)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "join_salted_skew",
    oracle=f"""
    SELECT o_orderstatus, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           COUNT(*) AS n_items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manual skew-salting recipe (SCALE.md §2), proven correct
    against the plain join's oracle: the probe side's key is salted
    with a deterministic secondary hash mod S, the build side is
    replicated ×S (explode over sequence), and the join runs on
    (key, salt) — splitting any single hot key's rows across S
    reducers. AQE's skew-join handles *observed* skew automatically;
    this operator is the explicit form for planned skew (null-heavy
    FKs, celebrity keys) where you don't want to rely on runtime
    detection. Same result, same oracle, as join_fact_revenue."""
    S = 8
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    probe = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_partkey", "l_linenumber"), F.lit(S))
    )
    build = o.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(S - 1))))
    return (
        build.join(
            probe,
            (build.o_orderkey == probe.l_orderkey) & (build.salt == probe.salt),
        )
        .groupBy("o_orderstatus")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → 3-way join → agg → top-k.
    Total order (revenue DESC, l_orderkey) makes the LIMIT frontier
    deterministic."""
    ensure_utc(spark)
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_regional_revenue",
    oracle=f"""
    SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join mixing broadcastable dims with
    big-big fact joins, plus the c_nationkey = s_nationkey theta leg.

    Shape choice (measured ~30% over the naive join order at sf0.1):
    the ASIA predicate is applied to BOTH fact-side dimensions before
    any fact join — region⋈nation (25x5 rows, always broadcast at any
    SF) semi-filters customer and supplier first, so the expensive
    orders/lineitem joins only carry the ~1/5 of rows that can survive.
    The single remaining big-big shuffle is co⋈lis on (orderkey,
    nationkey). Customer/supplier join strategies are left unhinted:
    at this SF the optimizer broadcasts them, at 100 TB their size
    estimate pushes them to shuffle joins — both correct, AQE decides
    from runtime stats."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_n = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    c2 = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(asia_n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
    )
    s2 = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(asia_n.select("n_nationkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_nationkey")
    )
    co = c2.join(o, c2.c_custkey == o.o_custkey).select("o_orderkey", "c_nationkey")
    lis = li.join(s2, li.l_suppkey == s2.s_suppkey).select(
        "l_orderkey", "l_extendedprice", "l_discount", "s_nationkey"
    )
    j = co.join(
        lis,
        (co.o_orderkey == lis.l_orderkey) & (co.c_nationkey == lis.s_nationkey),
    )
    return (
        j.join(F.broadcast(asia_n), j.s_nationkey == asia_n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 200000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one big order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders at all."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count = 0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT ck.k AS nationkey, c.n AS n_customers, s.n AS n_suppliers
    FROM (SELECT DISTINCT c_nationkey AS k FROM customer
          UNION SELECT DISTINCT s_nationkey FROM supplier) ck
    LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY 1) c
           ON ck.k = c.c_nationkey
    LEFT JOIN (SELECT s_nationkey, COUNT(*) AS n FROM supplier GROUP BY 1) s
           ON ck.k = s.s_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer vs supplier counts (the
    oracle spells it as union+left-joins, same relation)."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full_outer").select(
        F.coalesce(c.c_nationkey, s.s_nationkey).alias("nationkey"),
        "n_customers",
        "n_suppliers",
    )


@query(
    "join_range_bands",
    oracle="""
    SELECT b.band, COUNT(*) AS n_parts
    FROM part p
    JOIN (VALUES ('budget', 0.0, 500.0),
                 ('mid', 500.0, 1200.0),
                 ('premium', 1200.0, 100000.0)) AS b(band, lo, hi)
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
    """,
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against a literal band table — broadcast
    nested-loop physically; the band side is always tiny so this stays
    O(rows × bands) with no shuffle at any scale."""
    p = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 0.0, 500.0), ("mid", 500.0, 1200.0), ("premium", 1200.0, 100000.0)],
        "band string, lo double, hi double",
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_parts"))
    )


@query(
    "join_in_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 10)
    """,
)
def join_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery): orders of the 10 richest customers (total-ordered
    LIMIT)."""
    c = _t(spark, sf_dir, "customer")
    top = c.orderBy(F.desc("c_acctbal"), F.asc("c_custkey")).limit(10).select("c_custkey")
    o = _t(spark, sf_dir, "orders")
    return o.join(
        F.broadcast(top), o.o_custkey == top.c_custkey, "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 2 * (
        SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / COUNT(*)
        FROM orders)
    """,
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above 2× the mean price. Spark plans the
    subquery as a broadcast scalar; no per-row recomputation."""
    o = _t(spark, sf_dir, "orders")
    mean = o.agg(davg(F.col("o_totalprice"), "m"))
    return (
        o.join(F.broadcast(mean))
        .filter(F.col("o_totalprice") > 2 * F.col("m"))
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------


@query(
    "window_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
    WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — row_number with a total order
    (price DESC, key) so ties resolve identically everywhere."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "window_rank_ties",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice,
           RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_rank,
           DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_dense_rank
    FROM part
    """,
)
def window_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank vs dense_rank under ties — both are functions of the order
    key only, so duplicate prices produce identical output rows."""
    p = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return p.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


@query(
    "window_running_total",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,8)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_qty
    FROM lineitem
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per supplier; decimal accumulation keeps it
    engine-exact. l_quantity closes the sort: the corpus contains a
    duplicate (suppkey, shipdate, orderkey, linenumber) key with
    differing quantities, and a ROWS frame over a non-total order is
    nondeterministic — with quantity in the key, tied rows are
    output-identical, so any tie order yields the same result."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(30,8)")).over(w).cast("double").alias("running_qty"),
    )


@query(
    "window_lag_delta",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           o_totalprice - LAG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta_vs_prev
    FROM orders
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): spend delta vs the customer's previous order (single
    subtraction of raw doubles — bit-identical in both engines)."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("delta_vs_prev"),
    )


@query(
    "window_moving_avg",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT))
                OVER w AS DOUBLE) / 1000000.0
           / COUNT(l_quantity) OVER w AS mov_avg_qty
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-row moving average with an explicit ROWS frame. The windowed
    sum uses the quantize-to-int64 construction (functions/numeric.py)
    rather than a DECIMAL intermediate: double→decimal conversion
    itself diverges between engines (Spark shortest-string vs DuckDB
    binary rounding, ~1e-6/row). l_quantity closes the sort order:
    sf0.1 contains a duplicate (suppkey, shipdate, orderkey,
    linenumber) key with differing quantities, and a ROWS frame over a
    non-total order is nondeterministic — both caught by the full
    sf0.1 sweep after passing at sf0.01."""
    from mapreduce_wordcounter_spark.functions.numeric import quantize

    li = _t(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(-4, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        (
            F.sum(quantize(F.col("l_quantity"))).over(w).cast("double")
            / 1_000_000
            / F.count("l_quantity").over(w)
        ).alias("mov_avg_qty"),
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@query(
    "set_union",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of nation keys present among customers/suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations with both customers and suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: nations with customers but no suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@query(
    "set_intersect_all",
    oracle="""
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: bag semantics — each suppkey kept min(m, n)
    times across the two branches (the distinct form would lose the
    multiplicities)."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_suppkey")
    return r.intersectAll(a)


@query(
    "set_except_all",
    oracle="""
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: bag difference — each suppkey kept max(m − n, 0)
    times."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_suppkey")
    return r.exceptAll(a)


@query(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
               AS n_similar_spend
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, vs the ROWS frame in
    window_moving_avg): peers are orders within ±1000 of the current
    price, however many rows that is — a genuinely different frame
    evaluator in both engines."""
    o = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, 1000)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.count("*").over(w).alias("n_similar_spend"),
    )


@query(
    "cte_chained",
    oracle="""
    WITH cust_orders AS (
        SELECT o_custkey, COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey),
    buckets AS (
        SELECT n_orders, COUNT(*) AS n_custs
        FROM cust_orders GROUP BY n_orders)
    SELECT n_orders, n_custs FROM buckets WHERE n_custs > 1
    """,
)
def cte_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained CTEs through the SQL surface (spark.sql), exercising the
    parser/analyzer path rather than the DataFrame builder."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("cte_orders_v")
    return spark.sql(
        """
        WITH cust_orders AS (
            SELECT o_custkey, COUNT(*) AS n_orders
            FROM cte_orders_v GROUP BY o_custkey),
        buckets AS (
            SELECT n_orders, COUNT(*) AS n_custs
            FROM cust_orders GROUP BY n_orders)
        SELECT n_orders, n_custs FROM buckets WHERE n_custs > 1
        """
    )


@query(
    "lateral_posexplode",
    oracle=f"""
    SELECT doc_id, i - 1 AS pos, t[i] AS word
    FROM (SELECT doc_id,
                 {sql_words()} AS t
          FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) ix
    WHERE doc_id < 25
    """,
)
def lateral_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode/LATERAL-VIEW: token stream with ordinal positions —
    the order-preserving UDTF shape (vs explode's bag semantics)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 25)
    toks = words()
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "word")
    )


# ---------------------------------------------------------------------------
# Scalar functions (string / date / math / JSON / conditional)
# ---------------------------------------------------------------------------


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LENGTH(p_name) AS name_len,
           SUBSTR(p_name, 1, 8) AS name_prefix,
           REPLACE(p_type, ' ', '_') AS type_snake,
           CONCAT(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size,
           TRIM(p_name) AS name_trim,
           LPAD(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded,
           REVERSE(p_brand) AS brand_rev,
           p_name LIKE '%a%' AS has_a
    FROM part
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function breadth — the reference's only scalar
    transform is lower() (main.go:148); everything else is extension."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_padded"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.col("p_name").like("%a%").alias("has_a"),
    )


@query(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(day(o_orderdate) AS INT) AS order_day,
           CAST(quarter(o_orderdate) AS INT) AS order_quarter,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
    FROM orders
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar functions; timestamps emitted as strings under a
    UTC-pinned session for engine parity."""
    ensure_utc(spark)
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
    )


@query(
    "math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - 30000) AS abs_centered,
           CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
           CAST(FLOOR(l_tax * 100) AS BIGINT) AS tax_pct_floor,
           ROUND(l_extendedprice, 1) AS price_r1,
           ROUND(SQRT(l_quantity), 6) AS qty_sqrt,
           ROUND(LN(l_extendedprice), 6) AS price_ln,
           ROUND(POWER(l_quantity, 2), 6) AS qty_sq,
           MOD(l_linenumber, 3) AS line_mod3,
           GREATEST(l_discount, l_tax) AS max_rate,
           LEAST(l_discount, l_tax) AS min_rate
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar functions (transcendentals rounded to 6: JVM vs libm
    may differ in the final ulp)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 30000).alias("abs_centered"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.floor(F.col("l_tax") * 100).alias("tax_pct_floor"),
        F.round(F.col("l_extendedprice"), 1).alias("price_r1"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.round(F.pow(F.col("l_quantity"), 2), 6).alias("qty_sq"),
        (F.col("l_linenumber") % 3).alias("line_mod3"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


@query(
    "json_extract",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from events.props."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@query(
    "json_struct_roundtrip",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           to_json(struct_pack(id := event_id,
                               k := CAST(json_extract_string(props, '$.k') AS INT)
                  ))::VARCHAR AS packed
    FROM events
    """,
)
def json_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested types end-to-end: parse events.props with from_json into
    a typed struct, access the field, re-serialize a constructed struct
    with to_json — byte-identical serialization in both engines."""
    e = _t(spark, sf_dir, "events")
    parsed = e.select(
        "event_id",
        F.from_json("props", "k int").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.to_json(
            F.named_struct(F.lit("id"), F.col("event_id"), F.lit("k"), F.col("p.k"))
        ).alias("packed"),
    )


@query(
    "array_functions",
    oracle=f"""
    SELECT doc_id,
           len(t) AS n_toks,
           array_to_string(list_sort(t)[1:3], ',') AS first3_sorted,
           list_contains(t, 'the') AS has_the,
           len(list_distinct(t)) AS n_distinct
    FROM (SELECT doc_id,
                 {sql_words()} AS t
          FROM documents) d
    WHERE doc_id < 50
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order/collection functions over the token array:
    size, sort+slice+join, membership, distinct count — all JVM
    expression trees (ASCII corpus → collation-safe sort parity)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = words()
    t = docs.select("doc_id", toks.alias("t"))
    return t.select(
        "doc_id",
        F.size("t").alias("n_toks"),
        F.array_join(F.slice(F.sort_array("t"), 1, 3), ",").alias("first3_sorted"),
        F.array_contains("t", "the").alias("has_the"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
    )


@query(
    "case_bucketing",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS size_bucket,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_display
    FROM orders
    """,
)
def case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/COALESCE/NULLIF conditional expressions."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
        .alias("size_bucket"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")
        ).alias("status_display"),
    )


@query(
    "order_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: physically TakeOrderedAndProject (per-partition
    heap + merge at the driver), not a full sort — the only safe global
    'sort' at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "sql_api_q",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY o_orderpriority
    """,
)
def sql_api_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same engine through the SQL entry point (spark.sql over temp
    views) — Catalyst produces the identical plan either way."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS sum_price
        FROM orders_v
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        GROUP BY o_orderpriority
        """
    )


@query(
    "sample_bernoulli",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           TRUE AS rate_within_5sigma, TRUE AS reproducible
    FROM lineitem
    """,
)
def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sampling under a SEMI-ORACLE (VERDICT r11 #6):
    which rows an engine samples is engine-specific, so the query
    emits the population size (hash-checked) plus the sampler's two
    contracts as booleans — the observed rate sits inside 5σ binomial
    bounds around fraction=0.1, and re-sampling with the same seed
    reproduces the identical row set (count AND per-row key checksum
    agree). pytest keeps the raw-rowset form of both checks."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    key = F.xxhash64("l_orderkey", "l_linenumber")

    def draw():
        return li.sample(fraction=0.1, seed=42).agg(
            F.count("*").alias("k"),
            # order-insensitive, overflow-free checksum of exactly
            # which rows were sampled (keys are distinct, so XOR
            # cancellation can't hide a swap)
            F.bit_xor(key).alias("chk"),
        )

    a, b = draw(), draw()
    tot = li.agg(F.count("*").cast("bigint").alias("n_total"))
    # 1-row × 1-row joins: bounded BNLJ, declared in test_plan_hygiene
    return (
        tot.crossJoin(a)
        .crossJoin(
            b.select(F.col("k").alias("k2"), F.col("chk").alias("chk2"))
        )
        .select(
            "n_total",
            (
                F.abs(F.col("k") - 0.1 * F.col("n_total"))
                < 5 * F.sqrt(0.1 * 0.9 * F.col("n_total"))
            ).alias("rate_within_5sigma"),
            (
                (F.col("k") == F.col("k2"))
                & (F.col("chk").eqNullSafe(F.col("chk2")))
            ).alias("reproducible"),
        )
    )


# ---------------------------------------------------------------------------
# Ranking distributions, exact percentiles, map-typed columns
# ---------------------------------------------------------------------------


@query(
    "window_rank_dist",
    oracle="""
    SELECT c_custkey, c_nationkey,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def window_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranking functions (ntile / percent_rank / cume_dist)
    over a total order — (acctbal, custkey) tie-break makes every rank
    deterministic, and both outputs are exact integer ratios so the
    doubles are bit-identical across engines."""
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "agg_percentile_exact",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
           quantile_disc(l_quantity, 0.90) AS p90_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles: linearly interpolated (percentile ≡ DuckDB
    quantile_cont, both the classic type-7 estimator) plus the discrete
    lower-bound variant. Exact sort-based aggregate — at 100 TB this is
    the operator you replace with approx_percentile (see
    agg_p90_approx); kept exact here because the oracle demands
    determinism. Interpolation rounded to 6dp (one multiply-add may
    fuse differently across libm builds)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("p75"),
        F.expr(
            "percentile_disc(0.90) WITHIN GROUP (ORDER BY l_quantity)"
        ).alias("p90_disc"),
    )


@query(
    "map_functions",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) * 2 AS double_cnt
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    HAVING COUNT(*) > 5
    """,
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column machinery: rows → map_from_entries →
    map_filter → transform_values → explode back to rows. The map is
    per-group metadata (bounded cardinality: |orderstatus| ≤ 3), so the
    collect_list never exceeds a few entries per row — safe at any
    scale. Oracle states the same relation without maps."""
    od = _t(spark, sf_dir, "orders")
    per = od.groupBy("o_orderpriority", "o_orderstatus").count()
    mapped = per.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderstatus", "count"))
        ).alias("status_counts")
    )
    transformed = mapped.select(
        "o_orderpriority",
        F.transform_values(
            F.map_filter("status_counts", lambda _, v: v > 5),
            lambda _, v: v * 2,
        ).alias("status_counts"),
    )
    return transformed.select(
        "o_orderpriority",
        F.explode("status_counts").alias("o_orderstatus", "double_cnt"),
    )


@query(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                    AND l_shipdate <  TIMESTAMP '1998-02-01'
                    AND l_quantity > 45
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                    AND l_shipdate <  TIMESTAMP '1998-02-01'
                    AND l_quantity > 45
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                    AND l_shipdate <  TIMESTAMP '1998-02-01'
                    AND l_quantity > 45
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
                    AND l_shipdate <  TIMESTAMP '1998-02-01'
                    AND l_quantity > 45
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long (the inverse of agg_pivot): four measure columns
    melt into (measure, val) rows via the native unpivot/melt operator
    — one scan, no join, 1→4 row fan-out inside the projection, so it
    scales as a pure map-side op. The oracle states the same relation
    as 4 UNION ALL branches (which would scan 4×; Spark's unpivot
    scans once)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01")
        & (F.col("l_shipdate") < "1998-02-01")
        & (F.col("l_quantity") > 45)
    )
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter.
    Both fact filters (order date on orders, returnflag on lineitem)
    are pushed to their scans BEFORE the fact-fact join, nation
    broadcasts, and the top-20 is a TakeOrderedAndProject — no global
    sort materializes. Total-order tie-break on custkey pins the LIMIT
    line for the oracle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-10-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q18_large_volume",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           {sql_dsum('l_quantity', 'total_qty')}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 50
    """,
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity crosses a
    threshold, with their customers. The HAVING subquery becomes a
    pre-aggregated semi-join (aggregate once, semi-join the keys back)
    — the aggregate and the semi-join share the l_orderkey shuffle
    partitioning, so AQE can reuse the exchange. UTC-pinned date
    formatting for the oracle."""
    ensure_utc(spark)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "b_orderkey"),
                F.col("l_orderkey") == F.col("b_orderkey"), "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .agg(dsum(F.col("l_quantity"), "total_qty"))
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(50)
    )


@query(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (correlation, sample covariance, regression
    slope) per group — single-pass CO-moment aggregates, shuffled on
    the tiny grouping key like every other agg here. Rounded: both
    engines use numerically stable one-pass updates that agree to
    ~1e-10 relative, not to the last ulp."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 4).alias(
            "price_per_qty"
        ),
    )


@query(
    "try_functions",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.plan') AS INT) AS plan_as_int,
           CASE WHEN value = 0 THEN NULL ELSE ROUND(100.0 / value, 6) END AS inv_value,
           TRY_CAST('not-a-number' AS DOUBLE) AS always_null
    FROM events
    WHERE event_type = 'signup'
    """,
)
def try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant expressions: try_cast on dirty JSON fields and
    try_divide instead of a crash on zero — the ANSI-mode-safe way to
    run projections over messy corpora (one malformed row must not
    kill a 100 TB scan). NULL is the quarantine value; the oracle
    states the same nulls declaratively."""
    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == "signup").select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.plan') AS INT)").alias(
            "plan_as_int"
        ),
        F.round(F.expr("try_divide(100.0, nullif(value, 0.0))"), 6).alias(
            "inv_value"
        ),
        F.expr("try_cast('not-a-number' AS DOUBLE)").alias("always_null"),
    )


@query(
    "join_not_in_nulls",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def join_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN as a null-aware anti-join — the subtle three-valued-logic
    cousin of join_anti: if the subquery ever yields NULL, NOT IN is
    never true and the result must be EMPTY, so Spark plans
    NullAwareAntiJoin rather than a plain left-anti. Declared through
    the SQL path because that null-aware semantics is exactly what the
    DataFrame left_anti join does NOT implement."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("c_v")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("o_v")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM c_v
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM o_v WHERE o_totalprice > 400000)
        """
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global aggregate, no join. The
    benchmark's predicate-pushdown showcase — every predicate reaches
    the parquet scan (min/max row-group pruning on l_shipdate), and the
    aggregate is a single partial→final pair over the surviving rows."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL '80 days')
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: this schema has no commit/receipt dates,
    so "late" = shipped >80 days after order date): EXISTS decorrelates
    to a LEFT SEMI join on orderkey with the date bound as a join-side
    predicate — orders shuffle once, lineitem is semi-reduced before the
    aggregate, and no lineitem columns survive the join."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 80 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT
        {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END",
                  'promo_revenue')},
        {sql_dsum('l_extendedprice * (1 - l_discount)', 'total_revenue')},
        ROUND(
            CAST(SUM(CAST(FLOOR((CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
            * 100.0
            / CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 1000000.0 + 0.5)
                            AS BIGINT)) AS DOUBLE),
            6) AS promo_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: one month of lineitem joined to the part
    dimension (broadcast — 2k rows at sf0.01, and still broadcastable at
    100 TB where part is ~0.2% of lineitem), conditional revenue share
    of PROMO-type parts. The percentage is computed from the two
    quantized integer sums, so the ratio is engine-exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
    q_promo = F.sum(quantize(promo))
    q_total = F.sum(quantize(rev))
    return joined.agg(
        (q_promo.cast("double") / SCALE).alias("promo_revenue"),
        (q_total.cast("double") / SCALE).alias("total_revenue"),
        F.round(q_promo.cast("double") * 100.0 / q_total.cast("double"), 6).alias(
            "promo_pct"
        ),
    )


@query(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (adapted to this schema's brands/sizes): an OR of
    three brand/size/quantity brackets across a fact-dimension join.
    The join key predicate is an equi-join; the disjunction becomes a
    post-join filter Catalyst partially pushes to each side (the
    brand/size disjunction prunes part before broadcast, the quantity
    range prunes lineitem at the scan)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    bracket = (
        (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(bracket).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")
    )


@query(
    "window_qualify_pareto",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice,
           ROUND(CAST(cum_q AS DOUBLE) / CAST(tot_q AS DOUBLE), 6) AS cum_share
    FROM (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               SUM(CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
                   OVER (PARTITION BY o_orderstatus
                         ORDER BY o_totalprice DESC, o_orderkey
                         ROWS UNBOUNDED PRECEDING) AS cum_q,
               CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT) AS row_q,
               SUM(CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
                   OVER (PARTITION BY o_orderstatus) AS tot_q
        FROM orders
        QUALIFY (cum_q - row_q) * 100 < tot_q * 2) t
    """,
)
def window_qualify_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY-style window filter (Pareto head): within each order
    status, keep the top orders until their cumulative revenue passes 2%
    of the segment total. The oracle states it with DuckDB's QUALIFY
    clause; Spark has no QUALIFY, so the same predicate filters the
    windowed projection — which is precisely what QUALIFY desugars to.
    The threshold comparison is pure BIGINT arithmetic on quantized
    prices, so membership is engine-exact (no float cumsum at the
    boundary)."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    row_q = quantize(F.col("o_totalprice"))
    w_cum = (
        W.partitionBy("o_orderstatus")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_tot = W.partitionBy("o_orderstatus")
    return (
        o.select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.sum(row_q).over(w_cum).alias("cum_q"),
            row_q.alias("row_q"),
            F.sum(row_q).over(w_tot).alias("tot_q"),
        )
        .filter((F.col("cum_q") - F.col("row_q")) * 100 < F.col("tot_q") * 2)
        .select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.round(F.col("cum_q").cast("double") / F.col("tot_q").cast("double"), 6).alias(
                "cum_share"
            ),
        )
    )


@query(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (
        SELECT NULLIF(o_orderpriority, '5-LOW') AS k, COUNT(*) AS n_orders
        FROM orders GROUP BY 1),
    b AS (
        SELECT NULLIF(o_orderpriority, '5-LOW') AS k,
               COUNT(DISTINCT o_custkey) AS n_cust
        FROM orders GROUP BY 1)
    SELECT a.k AS priority_key, a.n_orders, b.n_cust
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantic a plain
    equi-join silently drops. Both sides NULLIF one priority group so
    the NULL-keyed row exists and must survive the join. Spark treats
    `eqNullSafe` as a hash-joinable key (no nested loop), so the plan is
    the same single-shuffle hash join as join_fact_revenue."""
    o = _t(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_orderpriority"), F.lit("5-LOW"))
    a = o.groupBy(k.alias("ak")).agg(F.count("*").alias("n_orders"))
    b = o.groupBy(k.alias("bk")).agg(
        F.countDistinct("o_custkey").alias("n_cust")
    )
    return a.join(b, F.col("ak").eqNullSafe(F.col("bk"))).select(
        F.col("ak").alias("priority_key"), "n_orders", "n_cust"
    )


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {sql_dsum('volume', 'revenue')}
    FROM (
        SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
            OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01') shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue between two nations by
    direction and ship year. Plan: the fact-fact lineitem⋈orders join
    carries the two broadcast nation-filtered dimension joins
    (supplier/customer are nation-pruned BEFORE touching the facts, so
    the big join's inputs are pre-filtered); the disjunctive nation
    pair predicate stays on the dimension join output."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ("NATION_1", "NATION_2")
    ns = n.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = s.join(F.broadcast(ns), s.s_nationkey == ns.s_nk).select(
        F.col("s_suppkey").alias("l_suppkey"), "supp_nation"
    )
    cust = c.join(F.broadcast(nc), c.c_nationkey == nc.c_nk).select(
        F.col("c_custkey").alias("o_custkey"), "cust_nation"
    )
    # supp (nation-filtered suppliers) is broadcast-sized at any scale;
    # cust is customer-cardinality — no hint, AQE decides (broadcast at
    # test scale, shuffle join reusing o_custkey partitioning at 100 TB).
    joined = (
        li.join(F.broadcast(supp), "l_suppkey")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, "o_custkey")
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("volume"), "revenue"))
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with a join-side predicate (the filter must NOT drop customers
    — it belongs on the join, not a WHERE), double aggregation. The
    customers-with-zero-orders bucket only exists if the outer join is
    correct, which is what this query pins."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice', 'total_price')},
           CAST(SUM(CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#9'
      AND l.l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity)
          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    scalar subquery (per-part average quantity) decorrelates into a
    per-part aggregate joined back to the fact — the standard rewrite
    Catalyst itself performs for correlated scalars. The per-part avg
    is part-cardinality-sized — deliberately NOT hinted broadcast (at
    100 TB that relation is hundreds of millions of rows; both sides of
    its join already partition on partkey, and AQE picks broadcast at
    test scale on its own). Only the brand-filtered part list, tiny at
    any scale, carries a broadcast hint."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#9").select(
        "p_partkey"
    )
    per_part = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cap")
    )
    branded = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    filtered = branded.join(per_part, "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_cap")
    )
    return filtered.agg(
        dsum(F.col("l_extendedprice"), "total_price"),
        (
            F.sum(F.floor(F.col("l_extendedprice") * 1_000_000 + F.lit(0.5)).cast("long"))
            .cast("double")
            / 1_000_000
            / 7.0
        ).alias("avg_yearly"),
    )


# ---------------------------------------------------------------------------
# Spark 4 surface: VARIANT semi-structured type, recursive CTEs
# ---------------------------------------------------------------------------


@query(
    "variant_props_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def variant_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured aggregation through Spark 4's VARIANT type:
    parse_json ONCE into the binary variant encoding, then typed
    variant_get extraction — the engine-native path for JSON-heavy
    event tables (repeated get_json_object re-parses the string per
    extraction; variant parses once per row and shreds lazily, the
    difference between scan-bound and parse-bound at 100 TB).
    json_extract (relational.py) keeps the classic string-path twin."""
    e = _t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "sql_recursive_calendar",
    oracle="""
    WITH RECURSIVE cal(month_start) AS (
        SELECT (SELECT date_trunc('month', MIN(o_orderdate)) FROM orders)
        UNION ALL
        SELECT month_start + INTERVAL 1 MONTH FROM cal
        WHERE month_start < (SELECT date_trunc('month', MAX(o_orderdate))
                             FROM orders)
    )
    SELECT strftime(c.month_start, '%Y-%m') AS month,
           COUNT(o.o_orderkey) AS n_orders
    FROM cal c
    LEFT JOIN orders o
           ON date_trunc('month', o.o_orderdate) = c.month_start
    GROUP BY c.month_start
    """,
)
def sql_recursive_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): generate the contiguous month spine of
    the order history recursively, then LEFT JOIN monthly order counts
    — the gaps-included time series every dashboard needs (a plain
    GROUP BY silently drops empty months). The recursion is
    driver-free plan composition; the spine is dozens of rows, so the
    join broadcasts it. DuckDB runs the identical WITH RECURSIVE."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_rc_v")
    return spark.sql(
        """
        WITH RECURSIVE cal(month_start) AS (
            SELECT (SELECT date_trunc('month', MIN(o_orderdate))
                    FROM orders_rc_v)
            UNION ALL
            SELECT month_start + INTERVAL 1 MONTH FROM cal
            WHERE month_start < (SELECT date_trunc('month', MAX(o_orderdate))
                                 FROM orders_rc_v)
        )
        SELECT date_format(c.month_start, 'yyyy-MM') AS month,
               COUNT(o.o_orderkey) AS n_orders
        FROM cal c
        LEFT JOIN orders_rc_v o
               ON date_trunc('month', o.o_orderdate) = c.month_start
        GROUP BY c.month_start
        """
    )


@query(
    "merge_upsert_orders",
    oracle=f"""
    WITH source AS (
        SELECT o_orderkey, o_totalprice * 1.1 AS new_price
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 100000000, 100.0 FROM orders
        WHERE o_orderkey % 100 = 0),
    merged AS (
        SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               CASE WHEN s.o_orderkey IS NULL THEN t.o_totalprice
                    ELSE s.new_price END AS price,
               CASE WHEN t.o_orderkey IS NULL THEN 'inserted'
                    WHEN s.o_orderkey IS NULL THEN 'unchanged'
                    ELSE 'updated' END AS action
        FROM orders t FULL OUTER JOIN source s
          ON t.o_orderkey = s.o_orderkey)
    SELECT action, COUNT(*) AS n, {sql_dsum('price', 'sum_price')}
    FROM merged GROUP BY action
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics in plain batch Spark: a deterministic
    source (10% price bump for every 10th order, plus synthetic new
    rows) full-outer-joined with the target — matched rows update,
    unmatched-source rows insert, unmatched-target rows pass through —
    audited as per-action counts and price mass. This is what a Delta/
    Iceberg MERGE compiles to underneath (minus the transactional
    commit, which is table-format territory); the streaming
    foreachBatch upsert sink is the incremental twin. One shuffle on
    the join key; at 100 TB both sides bucket on o_orderkey at rest
    and the join is exchange-free (write_bucketed_table)."""
    o = _t(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("s_key"),
        (F.col("o_totalprice") * 1.1).alias("new_price"),
    )
    inserts = o.filter(F.col("o_orderkey") % 100 == 0).select(
        (F.col("o_orderkey") + 100_000_000).alias("s_key"),
        F.lit(100.0).alias("new_price"),
    )
    source = updates.unionAll(inserts)
    merged = o.join(
        source, F.col("o_orderkey") == F.col("s_key"), "full_outer"
    ).select(
        F.when(F.col("s_key").isNull(), F.col("o_totalprice"))
        .otherwise(F.col("new_price"))
        .alias("price"),
        F.when(F.col("o_orderkey").isNull(), "inserted")
        .when(F.col("s_key").isNull(), "unchanged")
        .otherwise("updated")
        .alias("action"),
    )
    return merged.groupBy("action").agg(
        F.count("*").alias("n"), dsum(F.col("price"), "sum_price")
    )


@query(
    "table_quality_audit",
    oracle="""
    SELECT 'orders_key_unique' AS check_name,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
               AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_not_null',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'orders_fk_customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem_qty_positive',
           CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    """,
)
def table_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit over the warehouse tables — the Deequ/dbt-test
    shape: key uniqueness, non-null keys, referential integrity
    (anti-join counts), and a value-domain rule, one row per check
    with its violation count (all zero on this corpus — the audit
    proves it, it doesn't assume it). Each check is one aggregate or
    one anti join on the natural key; a nightly 100 TB audit runs them
    all in a single pass per table with the FK anti joins sharing the
    fact partitioning."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")

    def one(name: str, agg_df: DataFrame) -> DataFrame:
        return agg_df.select(
            F.lit(name).alias("check_name"),
            F.col("v").cast("long").alias("n_violations"),
        )

    checks = [
        one(
            "orders_key_unique",
            o.agg((F.count("*") - F.count_distinct("o_orderkey")).alias("v")),
        ),
        one(
            "orders_custkey_not_null",
            o.agg(
                F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("v")
            ),
        ),
        one(
            "lineitem_fk_orders",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.count("*").alias("v")
            ),
        ),
        one(
            "orders_fk_customer",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
                F.count("*").alias("v")
            ),
        ),
        one(
            "lineitem_qty_positive",
            li.agg(
                F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("v")
            ),
        ),
    ]
    out = checks[0]
    for chk in checks[1:]:
        out = out.unionAll(chk)
    return out


@query(
    "skew_top_keys",
    oracle="""
    WITH per_key AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM per_key)
    SELECT user_id, n,
           ROUND(CAST(n AS DOUBLE) / tot.total, 6) AS share
    FROM (SELECT user_id, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rn
          FROM per_key) r, tot
    WHERE rn <= 5
    """,
)
def skew_top_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnosis: the 5 heaviest grouping keys and their
    share of the total — the report you read BEFORE deciding whether a
    join needs salting or AQE skew-split will do (SCALE.md §2). The
    top-k is TakeOrderedAndProject over the per-key aggregate; the
    share divides two exact BIGINTs."""
    e = _t(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count("*").alias("n"))
    tot = per_key.agg(F.sum("n").alias("total"))
    return (
        per_key.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(5)
        .join(F.broadcast(tot))
        .select(
            "user_id",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        )
    )


@query(
    "join_size_by_key_product",
    oracle="""
    WITH a AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n
               FROM orders GROUP BY 1),
    b AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS n
          FROM lineitem GROUP BY 1),
    prod AS (SELECT a.k, a.n * b.n AS rows_out FROM a JOIN b USING (k))
    SELECT CAST(SUM(rows_out) AS BIGINT) AS join_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(rows_out) AS BIGINT) AS max_key_rows,
           ROUND(CAST(MAX(rows_out) AS DOUBLE) / SUM(rows_out), 6)
               AS max_key_share
    FROM prod
    """,
)
def join_size_by_key_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT pre-join cardinality: |A ⋈ B| on a key equals
    Σ_k cnt_A(k)·cnt_B(k) — computed from two per-key count aggregates
    and a count-grain join, WITHOUT materializing a single joined row.
    This is the sizing primitive behind every shuffle-strategy
    decision this repo documents (SCALE.md §2): join_rows tells you
    the output scale, max_key_share whether ONE key dominates (salt or
    rely on AQE skew-split), n_keys the exchange's key cardinality —
    all for the cost of two map-combined aggregates. skew_top_keys
    diagnoses one relation; this prices the JOIN.

    Scale: the count relations are |distinct keys| rows (≪ the
    tables); the estimator join shuffles counts, not rows — at 100 TB
    the difference between asking "how big will this be" and finding
    out."""
    a = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count("*").cast("bigint").alias("na"))
    )
    b = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count("*").cast("bigint").alias("nb"))
    )
    prod = a.join(b, "k").select(
        "k", (F.col("na") * F.col("nb")).alias("rows_out")
    )
    return prod.agg(
        F.sum("rows_out").cast("bigint").alias("join_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("rows_out").cast("bigint").alias("max_key_rows"),
        F.round(
            F.max("rows_out").cast("double") / F.sum("rows_out"), 6
        ).alias("max_key_share"),
    )


def _write_colocated_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders and customer as custkey-bucketed scratch tables
    (same bucket count) — the at-rest layout that lets their join run
    with zero exchanges. Shared by join_bucketed_colocated and its plan
    test."""
    import os
    import uuid

    from mapreduce_wordcounter_spark.session import (
        register_scratch_table,
        scratch_dir,
    )
    from mapreduce_wordcounter_spark.sources.writers import (
        write_bucketed_table,
    )

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    to = register_scratch_table("orders_bk_" + uuid.uuid4().hex[:8])
    tc = register_scratch_table("customer_bk_" + uuid.uuid4().hex[:8])
    base = scratch_dir()
    write_bucketed_table(
        o, to, ["o_custkey"], 8, sort_by=["o_custkey"],
        path=os.path.join(base, to),
    )
    write_bucketed_table(
        c, tc, ["c_custkey"], 8, sort_by=["c_custkey"],
        path=os.path.join(base, tc),
    )
    return to, tc


@query(
    "join_bucketed_colocated",
    oracle=f"""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice', 'total_revenue')}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed CO-LOCATED join: both sides written bucketed on the
    join key with the same bucket count, so the fact⋈dim join plans
    ZERO exchanges on BOTH inputs — the at-rest layout that turns the
    nightly big⋈big join from the cluster's largest shuffle into a
    per-bucket local zipper (dedup_incremental_new buckets one side;
    this is the two-sided form). Pinned at plan time by
    tests/test_sources.py::test_colocated_join_no_exchange (broadcast
    disabled there to force the path a 100 TB fact table would take;
    at test scale AQE rightly broadcasts instead).

    The write-then-join inside one query stands in for tables that are
    ALREADY at rest in this layout — production pays the bucketed
    write once at ingest, then every co-keyed join and groupBy rides
    it free."""
    to, tc = _write_colocated_pair(spark, sf_dir)
    o = spark.table(to)
    c = spark.table(tc)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_revenue"),
        )
    )


@query(
    "sql_pipe_q",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY o_orderpriority
    """,
)
def sql_pipe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sql_api_q restated in Spark 4's SQL PIPE syntax (`|>`): the
    linear FROM → WHERE → AGGREGATE form that reads in execution order
    — same Catalyst plan, third authoring surface (DataFrame, classic
    SQL, pipe SQL) pinned to one oracle."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_pv")
    return spark.sql(
        """
        FROM orders_pv
        |> WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0 + 0.5)
                                   AS BIGINT)) AS DOUBLE) / 1000000.0
                         AS sum_price
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, sum_price
        """
    )


@query(
    "join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             LIMIT 2) o
    """,
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer via a correlated LATERAL subquery —
    the SQL form of the per-group top-k that window_topk_per_group
    states with row_number. Catalyst decorrelates the LIMIT into a
    rank-based plan, so the two surfaces converge to the same
    physical shape (no per-customer re-execution).

    Scale: decorrelation rewrites this to join + windowed rank on
    o_custkey — one shuffle on the correlation key."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_lv"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_lv")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer_lv c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lv o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 LIMIT 2) o
        """
    )


@query(
    "sql_parameterized",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    WHERE value >= 150.0
    GROUP BY event_type
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named-parameter binding): the
    threshold arrives as a bound `:minv` parameter, not a formatted
    literal — the injection-safe templating a query service needs.
    Plan-identical to the literal form: the binder substitutes before
    Catalyst sees the query."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_pv")
    return spark.sql(
        """
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events_pv
        WHERE value >= :minv
        GROUP BY event_type
        """,
        args={"minv": 150.0},
    )


@query(
    "orders_rfm_segments",
    oracle=f"""
    WITH m AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               {sql_dsum('o_totalprice', 'monetary')}
        FROM orders GROUP BY o_custkey),
    scored AS (
        SELECT o_custkey, frequency, monetary,
               NTILE(5) OVER (ORDER BY last_order DESC, o_custkey) AS r,
               NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f,
               NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS mny
        FROM m)
    SELECT o_custkey, frequency, monetary, r, f, mny,
           CASE WHEN r = 1 AND f = 1 THEN 'champion'
                WHEN r = 1 THEN 'recent'
                WHEN f = 1 THEN 'loyal'
                WHEN r = 5 AND f = 5 THEN 'lost'
                ELSE 'regular' END AS segment
    FROM scored
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary
    quintiles (NTILE over a TOTAL order — custkey breaks every tie, so
    bucket boundaries are engine-exact) plus the classic segment
    labels. The monetary sum rides the micro-quantized path.

    Scale: one groupBy over orders to customer grain, then three EXACT
    NTILEs over the customer relation, chosen SIZE-ADAPTIVELY from
    the ORDERS row count — a parquet-metadata read that upper-bounds
    the customer count, so the probe is free: below
    _RFM_DISTRIBUTED_ROWS the plain global rank window wins (one
    in-memory sort of a small relation — the distributed construction
    costs ~6 extra tiny stages of pure scheduling at that size);
    above it, each quintile is a layout.distributed_rank
    (range-partition + broadcast offsets; no single-partition window
    even at 10⁹ customers) lifted to the tile by NTILE's closed form
    (first n % k tiles one row larger). Both paths are exact and
    oracle-identical — pinned against each other in
    tests/test_plans.py, which also plan-checks the distributed path
    explicitly."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        dsum(F.col("o_totalprice"), "monetary"),
    )
    # Strategy probe: the ORDERS row count upper-bounds the customer
    # count and reads as cached catalog statistics (tables.table_rows
    # — parquet-footer metadata, cached per session like an optimizer
    # stats lookup), so the common small case decides for free; only
    # the distributed branch — which needs the EXACT count for
    # NTILE's closed form anyway — pays for an aggregate count job.
    from mapreduce_wordcounter_spark.tables import table_rows

    if table_rows(spark, sf_dir, "orders") <= _RFM_DISTRIBUTED_ROWS:
        from pyspark.sql import Window as W

        r = F.ntile(5).over(
            W.orderBy(F.desc("last_order"), F.asc("o_custkey"))
        )
        f_ = F.ntile(5).over(
            W.orderBy(F.desc("frequency"), F.asc("o_custkey"))
        )
        mny = F.ntile(5).over(
            W.orderBy(F.desc("monetary"), F.asc("o_custkey"))
        )
        scored = m.select(
            "o_custkey", "frequency", "monetary",
            r.alias("r"), f_.alias("f"), mny.alias("mny"),
        )
        return _rfm_segment_select(scored)
    from mapreduce_wordcounter_spark.operators.layout import distributed_rank
    from mapreduce_wordcounter_spark.session import pin

    # The distributed branch needs the exact customer count for the
    # NTILE closed form; pin first so the count job and the three
    # ranks share one materialization of the customer aggregate.
    m = pin(m)
    n_total = m.count()  # bounded driver scalar (customer count)

    def tile(rk: str):
        # NTILE(k) from a global rank: first n % k tiles take
        # ceil(n/k) rows, the rest floor(n/k) (SQL-standard split;
        # integer `div` end-to-end, same construction as
        # layout._distributed_ntile's closed form).
        k = 5
        n_big, size_small = n_total % k, n_total // k
        if size_small == 0:  # degenerate n < k: tile == rank
            return F.col(rk).cast("int")
        cut = n_big * (size_small + 1)
        return F.expr(
            f"cast(CASE WHEN {rk} <= {cut}"
            f" THEN ({rk} - 1) div {size_small + 1}"
            f" ELSE {n_big} + ({rk} - 1 - {cut}) div {size_small}"
            f" END + 1 as int)"
        )

    # Three INDEPENDENT slim ranks joined back on the customer key —
    # not a chain: chaining rank2 onto rank1's output doubles the
    # plan subtree per level (counts + ranking branches), which
    # planning/codegen pays for even after AQE dedups the materialized
    # exchanges (measured 2.4 s chained vs ~1 s flat at sf0.1).
    scored = m
    for metric, out in (
        ("last_order", "r"), ("frequency", "f"), ("monetary", "mny"),
    ):
        slim = distributed_rank(
            m.select("o_custkey", metric),
            [F.desc(metric), F.asc("o_custkey")],
            out=f"__rk_{out}",
        ).select("o_custkey", tile(f"__rk_{out}").alias(out))
        scored = scored.join(slim, "o_custkey")
    scored = scored.select(
        "o_custkey", "frequency", "monetary", "r", "f", "mny"
    )
    return _rfm_segment_select(scored)


# Below this row count the plain global-window NTILE is strictly
# faster (one small in-memory sort vs ~6 extra scheduled stages);
# above it the distributed construction is mandatory. 10^6 rows of
# (key, 3 metrics) is ~32 MB — far inside one task's sort budget.
_RFM_DISTRIBUTED_ROWS = 1_000_000


def _rfm_segment_select(scored: DataFrame) -> DataFrame:
    seg = (
        F.when((F.col("r") == 1) & (F.col("f") == 1), "champion")
        .when(F.col("r") == 1, "recent")
        .when(F.col("f") == 1, "loyal")
        .when((F.col("r") == 5) & (F.col("f") == 5), "lost")
        .otherwise("regular")
    )
    return scored.select(
        "o_custkey", "frequency", "monetary", "r", "f", "mny",
        seg.alias("segment"),
    )


@query(
    "lineitem_abc_analysis",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                   * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_micro
        FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(rev_micro) AS BIGINT) AS t FROM rev),
    ranked AS (
        SELECT l_partkey, rev_micro,
               SUM(rev_micro) OVER (ORDER BY rev_micro DESC, l_partkey
                                    ROWS UNBOUNDED PRECEDING) AS cum
        FROM rev)
    SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(rev_micro) AS BIGINT) / 1000000.0, 6) AS revenue
    FROM (
        SELECT l_partkey, rev_micro,
               CASE WHEN 100 * cum <= 80 * (SELECT t FROM tot) THEN 'A'
                    WHEN 100 * cum <= 95 * (SELECT t FROM tot) THEN 'B'
                    ELSE 'C' END AS cls
        FROM ranked) c
    GROUP BY cls
    """,
)
def lineitem_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) revenue classification of parts: cumulative-share
    cutoffs at 80% / 95%, computed entirely in integer micro-units —
    the running sum, the total, and the threshold comparisons
    (100·cum ≤ 80·t) are all int64, so the class boundaries cannot
    drift between engines.

    Scale: part-grain aggregate, then the repo's two-pass bucketed
    cumulative sum (layout._distributed_ntile / training._rank_auc
    posture) instead of an unpartitioned running-sum window: parts
    band into <=1024 buckets by a monotone function of rev_micro (ties
    co-bucket, so between-bucket order equals the global DESC order),
    the running sum windows LOCALLY within each bucket, and a
    broadcast <=1024-row bucket-offset table (the only global window,
    over a constant-bounded relation) lifts local sums to global — no
    single-partition window ever sees the part relation."""
    from pyspark.sql import Window as W

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            quantize(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("rev_micro")
    )
    tot = rev.agg(F.sum("rev_micro").alias("t"))
    # Bucket index: linear band of rev_micro, DESCENDING (bucket 0 =
    # highest revenue), so bkt ASC == global (rev DESC) order between
    # buckets; within a bucket the local window finishes the order.
    bounds = rev.agg(
        F.min("rev_micro").alias("__lo"), F.max("rev_micro").alias("__hi")
    )
    banded = rev.join(F.broadcast(bounds)).withColumn(
        "bkt",
        (
            (F.col("__hi") - F.col("rev_micro"))
            * 1024
            / F.greatest(F.col("__hi") - F.col("__lo"), F.lit(1))
        ).cast("long"),
    )
    boff = (
        banded.groupBy("bkt")
        .agg(F.sum("rev_micro").alias("brev"))
        .withColumn(
            "boff",
            F.coalesce(
                F.sum("brev").over(
                    W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "boff")
    )
    w_loc = W.partitionBy("bkt").orderBy(
        F.desc("rev_micro"), F.asc("l_partkey")
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = (
        banded.join(F.broadcast(boff), "bkt")
        .withColumn("cum", F.col("boff") + F.sum("rev_micro").over(w_loc))
    )
    cls = (
        F.when(100 * F.col("cum") <= 80 * F.col("t"), "A")
        .when(100 * F.col("cum") <= 95 * F.col("t"), "B")
        .otherwise("C")
    )
    return (
        ranked.join(F.broadcast(tot))
        .select(cls.alias("cls"), "rev_micro")
        .groupBy("cls")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum("rev_micro").cast("double") / 1_000_000, 6).alias(
                "revenue"
            ),
        )
    )


@query(
    "experiment_assignment_lift",
    oracle=f"""
    WITH assigned AS (
        SELECT event_type, value,
               CASE WHEN ({sql_md5h("CAST(user_id AS VARCHAR)")}) % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm
        FROM events)
    SELECT event_type, arm, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_davg('value', 'mean_value')}
    FROM assigned GROUP BY event_type, arm
    """,
)
def experiment_assignment_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based A/B assignment + per-arm outcome means: the
    product-analytics primitive — deterministic unit-of-randomization
    hashing (user_id → arm via the repo's portable md5-prefix
    construction, functions/portable.py md5h/sql_md5h) followed by
    guardrail metrics per arm. Engine-native hashes (xxhash64 vs
    DuckDB hash()) deliberately avoided: they disagree across engines,
    which is exactly the bug this portable split exists to prevent.

    Scale: per-row hash projection + one map-combined groupBy — the
    assignment never shuffles the corpus."""
    e = load_table(spark, sf_dir, "events")
    arm_hash = F.expr(md5h("cast(user_id as string)"))
    arm = F.when(arm_hash % 2 == 0, "A").otherwise("B")
    return (
        e.select("event_type", "value", arm.alias("arm"))
        .groupBy("event_type", "arm")
        .agg(
            F.count("*").alias("n"),
            davg(F.col("value"), "mean_value"),
        )
    )


@query(
    "part_affinity_lift",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM lineitem),
    pk AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_ord
           FROM li GROUP BY l_partkey),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 2)
    SELECT p.part_a, p.part_b, p.n_both,
           ROUND(CAST(p.n_both AS DOUBLE) * n.n_orders
                 / (pa.n_ord * pb.n_ord), 6) AS lift
    FROM pairs p
    JOIN pk pa ON p.part_a = pa.l_partkey
    JOIN pk pb ON p.part_b = pb.l_partkey
    CROSS JOIN n
    ORDER BY lift DESC, part_a, part_b
    LIMIT 20
    """,
)
def part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: the 20 part pairs with the
    highest lift (P(A∧B) / P(A)·P(B)) among pairs co-ordered at least
    twice — the recommendation primitive. The pair join is WITHIN
    order (a.l_orderkey = b.l_orderkey, a < b), so fan-out is bounded
    by basket size² (≤ 7 items per TPC-H order), linear in lineitems —
    never a part×part cross.

    Scale: one distinct projection, the basket-bounded self-join on
    orderkey (co-partitioned — one shuffle), vocabulary-sized support
    relations broadcast back, TakeOrdered top-k. The min-support
    HAVING is what keeps the pair relation sparse at scale (classic
    a-priori pruning)."""
    from pyspark.sql import Window as W  # noqa: F401  (module convention)

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = _t(spark, sf_dir, "lineitem").agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    pk = li.groupBy("l_partkey").agg(F.count("*").alias("n_ord"))
    a = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, (F.col("l_orderkey") == F.col("ok2")))
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    pa = pk.select(F.col("l_partkey").alias("part_a"), F.col("n_ord").alias("na"))
    pb = pk.select(F.col("l_partkey").alias("part_b"), F.col("n_ord").alias("nb"))
    return (
        pairs.join(pa, "part_a")
        .join(pb, "part_b")
        .join(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_orders")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@query(
    "join_hinted_shuffle_hash",
    oracle=f"""
    SELECT o_orderstatus, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           COUNT(*) AS n_items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_hinted_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_fact_revenue under an explicit SHUFFLE_HASH hint — the
    fourth join strategy (broadcast-hash, sort-merge, and the bounded
    nested-loop cases are showcased elsewhere). Shuffled-hash beats
    sort-merge when one side is much smaller than the other but too
    big to broadcast: it skips both sort phases and builds a hash map
    per partition. The trade is memory — the build side PARTITION must
    fit in executor memory (no graceful sort-merge spill), which is
    why Spark doesn't pick it by default and why the hint exists.
    Pinned to ShuffledHashJoin at plan time by tests/test_plans.py."""
    o = _t(spark, sf_dir, "orders").hint("shuffle_hash")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "orders_open_backlog",
    oracle="""
    WITH bounds AS (
        SELECT o.o_orderkey,
               date_trunc('month', o.o_orderdate) AS m_open,
               date_trunc('month', MAX(l.l_shipdate)) AS m_close
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, date_trunc('month', o.o_orderdate)),
    deltas AS (
        SELECT m_open AS m, 1 AS d FROM bounds
        UNION ALL
        SELECT m_close + INTERVAL 1 MONTH, -1 FROM bounds),
    monthly AS (
        SELECT m, CAST(SUM(d) AS BIGINT) AS delta FROM deltas GROUP BY m)
    SELECT strftime(m, '%Y-%m') AS month,
           CAST(SUM(delta) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS open_orders
    FROM monthly
    """,
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog time series by interval event-ization: each
    order contributes +1 at its open month and −1 the month after its
    last shipment, and a running sum over the month axis yields the
    concurrent-open count — the O(N) sweep-line that replaces the
    O(N·months) month×interval overlap join (the same trick computes
    peak concurrency for sessions, licenses, connections).

    Scale: order-grain aggregate for the close bound (co-keyed join),
    a 2-row-per-order delta fan-out, a month-grain aggregate — and
    only THEN the running sum, over the tiny month axis (the
    unpartitioned window is months-cardinality, not order-cardinality,
    which is what makes the global cumsum safe)."""
    from pyspark.sql import Window as W

    ensure_utc(spark)
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    bounds = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", F.date_trunc("month", "o_orderdate").alias("m_open"))
        .agg(F.date_trunc("month", F.max("l_shipdate")).alias("m_close"))
    )
    deltas = bounds.select(
        F.col("m_open").alias("m"), F.lit(1).alias("d")
    ).unionAll(
        bounds.select(
            F.add_months(F.col("m_close"), 1).alias("m"), F.lit(-1).alias("d")
        )
    )
    monthly = deltas.groupBy("m").agg(F.sum("d").alias("delta"))
    w = W.orderBy("m").rowsBetween(W.unboundedPreceding, W.currentRow)
    return monthly.select(
        F.date_format("m", "yyyy-MM").alias("month"),
        F.sum("delta").over(w).cast("long").alias("open_orders"),
    )


@query(
    "supplier_lead_time",
    oracle="""
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_shipments,
           ROUND(quantile_cont(date_diff('day', o_orderdate, l_shipdate),
                               0.5), 6) AS p50_days,
           ROUND(quantile_cont(date_diff('day', o_orderdate, l_shipdate),
                               0.9), 6) AS p90_days,
           CAST(MAX(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
               AS max_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_suppkey
    """,
)
def supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier order→ship latency distribution (median / p90 /
    max days) — the supply-chain SLA rollup. Day differences are exact
    integers; the interpolated percentiles are the agg_median pairing.

    Scale: the fact⋈fact join on orderkey (co-partitionable via
    bucketing, join_bucketed_colocated's layout), then one
    supplier-keyed exact-percentile aggregate; swap for
    percentile_approx beyond memory (agg_p90_approx posture).

    The fact scan is spread first: the percentile PARTIALS (per-group
    value buffers, ObjectHashAggregate — no codegen) do the heavy
    lifting map-side and are otherwise bounded by the file's split
    count (tables.spread_narrow_scan; no-op at scale)."""
    from mapreduce_wordcounter_spark.tables import spread_narrow_scan

    # hash(l_orderkey): the spread exchange IS the fact join's
    # li-side exchange moved below the scan — no extra shuffle, and
    # the keyed form skips the round-robin local sort.
    li = spread_narrow_scan(
        spark,
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_shipdate"
        ),
        sf_dir,
        "lineitem",
        key="l_orderkey",
        rows_per_task=20000,
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    days = F.datediff("l_shipdate", "o_orderdate")
    return j.groupBy("l_suppkey").agg(
        F.count("*").alias("n_shipments"),
        F.round(
            F.expr("percentile(datediff(l_shipdate, o_orderdate), 0.5)"), 6
        ).alias("p50_days"),
        F.round(
            F.expr("percentile(datediff(l_shipdate, o_orderdate), 0.9)"), 6
        ).alias("p90_days"),
        F.max(days).cast("long").alias("max_days"),
    )
