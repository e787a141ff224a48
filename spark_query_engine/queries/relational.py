"""Joins, sorts, set operations — SURVEY.md §2.4 / §2.7 / §2.8 (all
ABSENT in the reference; the closed plan enum at
src/logical_plan/mod.rs:12-18 has no join/sort/set nodes).

Scale notes (100 TB design):
- region/nation are tiny dimensions at every scale factor → always
  broadcast (`F.broadcast`, or a `/*+ BROADCAST(n) */` hint in a
  `sql_query` text), so the fact-side scan never shuffles for the dim
  join.
- customer⋈orders⋈lineitem are key-partitioned shuffle joins; AQE
  handles skew and coalesces post-shuffle partitions.
- top-k = orderBy().limit(k) which Spark plans as
  TakeOrderedAndProject — per-partition heap + single merge, never a
  global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from spark_query_engine.operators import blocked_pairs
from spark_query_engine.queries import load, query, sql_query


@sql_query(
    "join_broadcast_dims",
    """
        SELECT /*+ BROADCAST(n, r) */ n.n_name, COUNT(*) AS n_customers,
               ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
        FROM {customer} c
        JOIN {nation} n ON c.c_nationkey = n.n_nationkey
        JOIN {region} r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dim joins: both dims broadcast → zero shuffle on the
    customer scan side until the final aggregation."""


@sql_query(
    "join_shuffle_revenue",
    """
        SELECT l.l_orderkey,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               o.o_orderdate
        FROM {customer} c
        JOIN {orders} o ON c.c_custkey = o.o_custkey
        JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 20
    """,
)
def join_shuffle_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: fact-fact shuffle join + agg + top-k. The
    mktsegment filter pushes to the customer parquet scan; at cluster
    scale AQE converts the filtered customer side to broadcast when it
    fits."""


@sql_query(
    "join_left_outer",
    """
        SELECT c.c_custkey, c.c_name,
               COUNT(o.o_orderkey) AS n_orders,
               ROUND(COALESCE(SUM(o.o_totalprice), 0.0), 2) AS total_spent
        FROM {customer} c
        LEFT JOIN {orders} o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join; COUNT over a nullable side + COALESCE."""


@query(
    "join_semi",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000.0
        )
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS) — customers with no urgent orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@sql_query(
    "sort_multi_key",
    """
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        FROM {supplier}
        ORDER BY s_nationkey ASC, s_acctbal DESC, s_suppkey
    """,
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key global sort (range-partitioned exchange + per-partition
    sort at scale)."""


@sql_query(
    "set_union",
    """
        SELECT c_custkey AS custkey FROM {customer} WHERE c_mktsegment = 'AUTOMOBILE'
        UNION
        SELECT o_custkey AS custkey FROM {orders} WHERE o_totalprice > 300000.0
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — SURVEY.md §2.8 ABSENT row."""


@sql_query(
    "set_intersect",
    """
        SELECT c_custkey AS custkey FROM {customer} WHERE c_acctbal > 5000.0
        INTERSECT
        SELECT o_custkey AS custkey FROM {orders} WHERE o_orderstatus = 'F'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — SURVEY.md §2.8 ABSENT row."""


@sql_query(
    "set_except",
    """
        SELECT c_custkey AS custkey FROM {customer}
        EXCEPT
        SELECT o_custkey AS custkey FROM {orders} WHERE o_totalprice > 100000.0
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — SURVEY.md §2.8 ABSENT row."""


@sql_query(
    "distinct_dedup_rows",
    """
        SELECT DISTINCT o_orderstatus, o_orderpriority FROM {orders}
    """,
)
def distinct_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — hash-partitioned dedup (map-side partial dedup first)."""


@query(
    "customer_rfm_segments",
    oracle="""
        WITH rfm AS (
            SELECT o_custkey AS custkey,
                   date_diff('day', DATE '1992-01-01', MAX(o_orderdate)) AS rd,
                   COUNT(*) AS frequency,
                   ROUND(SUM(o_totalprice), 2) AS monetary
            FROM orders GROUP BY 1
        ),
        feat AS (
            SELECT custkey, rd, frequency, monetary,
                   CAST(FLOOR(monetary / 1000) AS BIGINT) AS mk
            FROM rfm
        ),
        bounds AS (
            SELECT quantile_cont(rd, 0.25) AS r1, quantile_cont(rd, 0.50) AS r2,
                   quantile_cont(rd, 0.75) AS r3,
                   quantile_cont(frequency, 0.25) AS f1,
                   quantile_cont(frequency, 0.50) AS f2,
                   quantile_cont(frequency, 0.75) AS f3,
                   quantile_cont(mk, 0.25) AS m1, quantile_cont(mk, 0.50) AS m2,
                   quantile_cont(mk, 0.75) AS m3
            FROM feat
        ),
        scored AS (
            SELECT monetary,
                   1 + CAST(rd > b.r1 AS INT) + CAST(rd > b.r2 AS INT)
                     + CAST(rd > b.r3 AS INT) AS r,
                   1 + CAST(frequency > b.f1 AS INT) + CAST(frequency > b.f2 AS INT)
                     + CAST(frequency > b.f3 AS INT) AS f,
                   1 + CAST(mk > b.m1 AS INT) + CAST(mk > b.m2 AS INT)
                     + CAST(mk > b.m3 AS INT) AS m
            FROM feat CROSS JOIN bounds b
        )
        SELECT r, f, m,
               CONCAT(CAST(r AS VARCHAR), CAST(f AS VARCHAR),
                      CAST(m AS VARCHAR)) AS segment,
               COUNT(*) AS n_customers,
               ROUND(SUM(monetary), 2) AS segment_value
        FROM scored
        GROUP BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value analysis: per
    customer recency (days since epoch of last order), frequency
    (order count), and monetary (total spend), quartile-bucketed and
    rolled up per (r, f, m) segment.

    Scale design (replaces r2's three unpartitioned global NTILE
    windows — |customers| rows through ONE task at 100 TB): quartile
    BOUNDARIES come from one exact-``percentile`` aggregate whose
    state is bounded by the metric domains, not the row count —
    recency is calendar days, frequency small ints, monetary
    floor-bucketed to $1k — then the 1-row bounds relation broadcasts
    into a value-comparison bucketing (``1 + Σ(v > q_p)``), zero
    global sort. Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` share the linear-interpolation definition
    (pos = p·(n-1)); with quartile fractions (exact binary 0.25
    steps) over integer-valued metrics the interpolation arithmetic
    is bit-identical cross-engine, so strict ``>`` gates agree on
    every tie (verified bit-exact at sf0.01)."""
    orders = load(spark, sf_dir, "orders")
    rfm = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(F.max("o_orderdate"), F.lit("1992-01-01").cast("date")).alias(
            "rd"
        ),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    feat = rfm.withColumn("mk", F.floor(F.col("monetary") / 1000).cast("bigint"))
    bounds = feat.agg(
        F.expr("percentile(rd, array(0.25, 0.5, 0.75))").alias("qr"),
        F.expr("percentile(frequency, array(0.25, 0.5, 0.75))").alias("qf"),
        F.expr("percentile(mk, array(0.25, 0.5, 0.75))").alias("qm"),
    )

    def bucket(col: str, q: str):
        return (
            F.lit(1)
            + (F.col(col) > F.col(q)[0]).cast("int")
            + (F.col(col) > F.col(q)[1]).cast("int")
            + (F.col(col) > F.col(q)[2]).cast("int")
        )

    scored = feat.crossJoin(F.broadcast(bounds)).select(
        "monetary",
        bucket("rd", "qr").alias("r"),
        bucket("frequency", "qf").alias("f"),
        bucket("mk", "qm").alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ).alias("segment"),
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("monetary"), 2).alias("segment_value"),
    ).select("r", "f", "m", "segment", "n_customers", "segment_value")


@query(
    "basket_association_rules",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
            FROM lineitem
        ),
        norders AS (SELECT COUNT(DISTINCT okey) AS n FROM items),
        pairs AS (
            SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS c
            FROM items a JOIN items b
              ON a.okey = b.okey AND a.part < b.part
            GROUP BY 1, 2
        ),
        counts AS (SELECT part, COUNT(*) AS cnt FROM items GROUP BY 1)
        SELECT p.part_a, p.part_b, p.c AS pair_orders,
               ROUND(p.c * 1.0 / n.n, 6) AS support,
               ROUND(p.c * 1.0 / ca.cnt, 6) AS confidence,
               ROUND(p.c * 1.0 * n.n / (ca.cnt * cb.cnt), 6) AS lift
        FROM pairs p
        JOIN counts ca ON ca.part = p.part_a
        JOIN counts cb ON cb.part = p.part_b
        CROSS JOIN norders n
        WHERE p.c >= 3
        ORDER BY lift DESC, part_a, part_b
        LIMIT 50
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining (the frequent-itemset / market-basket
    family): for part pairs co-occurring in >= 3 orders — support,
    confidence(a→b), and lift, top-50 by lift. The pair join is keyed
    on the ORDER (bounded fan-out: C(items-per-order, 2), a handful —
    never a part-pair cross product), item counts broadcast back, and
    the single order count is a scalar broadcast. Rule membership
    gates on the INTEGER co-occurrence count and ranking uses the
    6dp-rounded lift with (part_a, part_b) tiebreaks, so both the set
    and its order are engine-exact. At 100 TB this is one shuffle of
    the item relation on order key plus |parts|-sized joins — the A
    in Apriori without candidate explosion, because pair generation
    stays within baskets."""
    items = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
        )
        .distinct()
    )
    norders = items.agg(F.countDistinct("okey").alias("n"))
    pairs = (
        blocked_pairs(items, ["okey"], "part")
        .groupBy(
            F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 3)
    )
    counts = items.groupBy("part").agg(F.count(F.lit(1)).alias("cnt"))
    ca = counts.select(F.col("part").alias("part_a"), F.col("cnt").alias("ca"))
    cb = counts.select(F.col("part").alias("part_b"), F.col("cnt").alias("cb"))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(norders))
        .select(
            "part_a",
            "part_b",
            F.col("c").alias("pair_orders"),
            F.round(F.col("c") * 1.0 / F.col("n"), 6).alias("support"),
            F.round(F.col("c") * 1.0 / F.col("ca"), 6).alias("confidence"),
            F.round(
                F.col("c") * 1.0 * F.col("n") / (F.col("ca") * F.col("cb")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(50)
    )


@query(
    "customer_pareto_report",
    oracle="""
        WITH cv AS (
            SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS v
            FROM orders GROUP BY o_custkey
        ),
        b AS (
            SELECT FLOOR(quantile_cont(v, 0.8) * 100 + 0.5) / 100.0 AS p80
            FROM cv
        )
        SELECT (SELECT COUNT(*) FROM cv) AS n_customers,
               b.p80,
               CAST(SUM(CASE WHEN cv.v > b.p80 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_top,
               ROUND(SUM(CASE WHEN cv.v > b.p80 THEN cv.v ELSE 0 END), 2)
                   AS top_value,
               ROUND(SUM(cv.v), 2) AS total_value,
               ROUND(SUM(CASE WHEN cv.v > b.p80 THEN cv.v ELSE 0 END)
                     / SUM(cv.v), 6) AS top_share
        FROM cv CROSS JOIN b
        GROUP BY b.p80
    """,
)
def customer_pareto_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration report — what share of revenue the
    top-quintile customers carry (the 80/20 readout behind account
    tiering and whale-risk analysis). The scalable formulation: ONE
    exact-percentile aggregate broadcast as the p80 bound (floor-
    pinned at 2dp against rounding ties), then a single classified
    scan — no global value sort, no cumulative-share window over the
    full customer relation (the textbook cumsum formulation is a
    single-partition sort at 100 TB)."""
    o = load(spark, sf_dir, "orders")
    cv = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("v")
    )
    b = cv.agg(
        (F.floor(F.expr("percentile(v, 0.8D)") * 100 + 0.5) / 100.0).alias(
            "p80"
        )
    )
    top = F.when(F.col("v") > F.col("p80"), F.col("v")).otherwise(0.0)
    return (
        cv.crossJoin(F.broadcast(b))
        .groupBy("p80")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(F.col("v") > F.col("p80"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_top"),
            F.round(F.sum(top), 2).alias("top_value"),
            F.round(F.sum("v"), 2).alias("total_value"),
            F.round(F.sum(top) / F.sum("v"), 6).alias("top_share"),
        )
        .select(
            "n_customers", "p80", "n_top", "top_value", "total_value",
            "top_share",
        )
    )


@query(
    "orders_lead_time_sla",
    oracle="""
        WITH lt AS (
            SELECT o.o_orderpriority AS pr,
                   date_diff('day', o.o_orderdate, l.l_shipdate) AS days
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT pr,
               COUNT(*) AS n_lines,
               ROUND(AVG(days), 4) AS avg_days,
               CAST(FLOOR(quantile_cont(days, 0.5) + 0.5) AS BIGINT)
                   AS p50_days,
               MAX(days) AS max_days,
               ROUND(SUM(CASE WHEN days <= 30 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS within_30d_share
        FROM lt GROUP BY pr
    """,
)
def orders_lead_time_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time per priority class with a 30-day SLA
    attainment share — the fulfillment-operations readout. One
    fact-fact equi-join on the order key (both sides hash-partition;
    at scale both tables bucket on orderkey and the join goes
    shuffle-free), exact integer day differences, then a per-class
    rollup with a floor-pinned median. The interesting read: whether
    URGENT actually ships faster than LOW — at TPC-H's uniform
    generator it does not, which is itself the audit finding."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("pr"),
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).alias("days"),
    )
    return lt.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.avg("days"), 4).alias("avg_days"),
        F.floor(F.expr("percentile(days, 0.5D)") + 0.5)
        .cast("bigint")
        .alias("p50_days"),
        F.max("days").alias("max_days"),
        F.round(
            F.sum(F.when(F.col("days") <= 30, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("within_30d_share"),
    )


@sql_query(
    "supplier_concentration_hhi",
    """
        WITH ps AS (
            SELECT l_partkey, l_suppkey, SUM(l_quantity) AS q
            FROM {lineitem} GROUP BY 1, 2
        ),
        tot AS (SELECT l_partkey, SUM(q) AS t FROM ps GROUP BY 1),
        hhi AS (
            SELECT ps.l_partkey,
                   ROUND(SUM((ps.q / tot.t) * (ps.q / tot.t)), 6) AS hhi,
                   COUNT(*) AS n_suppliers
            FROM ps JOIN tot USING (l_partkey)
            GROUP BY ps.l_partkey
        )
        SELECT CASE WHEN hhi >= 0.25 THEN 'concentrated'
                    WHEN hhi >= 0.15 THEN 'moderate'
                    ELSE 'competitive' END AS band,
               COUNT(*) AS n_parts,
               ROUND(MIN(hhi), 6) AS min_hhi,
               ROUND(MAX(hhi), 6) AS max_hhi,
               ROUND(AVG(n_suppliers), 4) AS avg_suppliers
        FROM hhi GROUP BY 1
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration audit: the Herfindahl-Hirschman index of
    each part's supplier quantity shares, banded at the antitrust
    thresholds (0.15 / 0.25) — the single-source-risk readout a
    procurement pipeline runs over the whole catalog. Two
    map-side-combined aggregations plus one part-keyed join; share
    squares divide exact quantity sums, so only the final rounding
    touches float discipline."""


@sql_query(
    "part_price_integrity",
    """
        WITH pp AS (
            SELECT l_partkey,
                   COUNT(*) AS n_lines,
                   ROUND(MIN(l_extendedprice / l_quantity), 4) AS min_unit,
                   ROUND(MAX(l_extendedprice / l_quantity), 4) AS max_unit
            FROM {lineitem} WHERE l_quantity > 0
            GROUP BY l_partkey
        )
        SELECT CASE WHEN max_unit > min_unit * 1.5 THEN 'suspect'
                    ELSE 'consistent' END AS band,
               COUNT(*) AS n_parts,
               CAST(SUM(n_lines) AS BIGINT) AS n_lines
        FROM pp GROUP BY 1
    """,
)
def part_price_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-price integrity screen: a part whose max observed unit
    price exceeds 1.5× its min is flagged suspect — the
    pricing-error/fraud triage every order pipeline runs. Unit price
    divides two exact doubles identically on both engines, the
    envelope is a min/max aggregate (no variance float summation),
    and the band compare uses the rounded envelope values — one
    part-keyed rollup plus a 2-row census."""


@query(
    "orders_quarterly_yoy",
    oracle="""
        WITH q AS (
            SELECT EXTRACT(year FROM o_orderdate) AS yr,
                   EXTRACT(quarter FROM o_orderdate) AS qtr,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS revenue
            FROM orders GROUP BY 1, 2
        )
        SELECT CAST(yr AS INT) AS yr, CAST(qtr AS INT) AS qtr,
               n_orders, revenue,
               LAG(revenue) OVER w AS prev_year_revenue,
               ROUND((revenue - LAG(revenue) OVER w)
                     / LAG(revenue) OVER w, 6) AS yoy_change
        FROM q
        WINDOW w AS (PARTITION BY qtr ORDER BY yr)
    """,
)
def orders_quarterly_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarterly revenue with year-over-year growth — the board-deck
    rollup: calendar-quarter aggregation, then LAG within the quarter
    ACROSS years (Q3-vs-Q3, the seasonality-adjusted compare; naive
    quarter-over-quarter conflates growth with season). The window
    runs over the |years|×4 aggregate; revenue sums are rounded at
    2dp before the ratio so the YoY division sees identical inputs
    cross-engine."""
    o = load(spark, sf_dir, "orders")
    q = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    w = W.partitionBy("qtr").orderBy("yr")
    prev = F.lag("revenue").over(w)
    return q.select(
        "yr",
        "qtr",
        "n_orders",
        "revenue",
        prev.alias("prev_year_revenue"),
        F.round((F.col("revenue") - prev) / prev, 6).alias("yoy_change"),
    )


@query(
    "orders_backlog_aging",
    oracle="""
        WITH ref AS (SELECT MAX(o_orderdate) AS d FROM orders),
        aged AS (
            SELECT o.o_orderstatus AS status,
                   date_diff('day', o.o_orderdate, ref.d) AS age_days
            FROM orders o CROSS JOIN ref
            WHERE o.o_orderstatus <> 'F'
        )
        SELECT status,
               CASE WHEN age_days <= 30 THEN '0-30'
                    WHEN age_days <= 90 THEN '31-90'
                    WHEN age_days <= 365 THEN '91-365'
                    ELSE '365+' END AS age_bucket,
               COUNT(*) AS n_orders,
               MAX(age_days) AS oldest_days
        FROM aged GROUP BY 1, 2
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog aging report: every non-finalized order bucketed by
    age relative to the dataset's own frontier (MAX order date — a
    data-derived reference, so the query is reproducible without a
    wall clock). The operations readout behind escalation queues;
    exact integer day arithmetic, the 1-row frontier broadcasts, one
    classified rollup."""
    o = load(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("d"))
    aged = (
        o.where(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(ref))
        .select(
            F.col("o_orderstatus").alias("status"),
            F.datediff(F.to_date("d"), F.to_date("o_orderdate")).alias(
                "age_days"
            ),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 365, "91-365")
        .otherwise("365+")
    )
    return aged.groupBy("status", bucket.alias("age_bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("age_days").alias("oldest_days"),
    )


@query(
    "customer_interpurchase_time",
    oracle="""
        WITH gaps AS (
            SELECT o_custkey,
                   date_diff('day',
                             LAG(o_orderdate) OVER (
                                 PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey),
                             o_orderdate) AS gap_d
            FROM orders
        ),
        m AS (
            SELECT o_custkey,
                   COUNT(gap_d) AS n_gaps,
                   SUM(gap_d) AS s1
            FROM gaps WHERE gap_d IS NOT NULL
            GROUP BY o_custkey
            HAVING COUNT(gap_d) >= 3
        )
        SELECT CASE WHEN s1 * 1.0 / n_gaps <= 30 THEN 'monthly+'
                    WHEN s1 * 1.0 / n_gaps <= 90 THEN 'quarterly'
                    WHEN s1 * 1.0 / n_gaps <= 365 THEN 'yearly'
                    ELSE 'dormant' END AS cadence,
               COUNT(*) AS n_customers,
               ROUND(AVG(s1 * 1.0 / n_gaps), 4) AS avg_gap_days
        FROM m GROUP BY 1
    """,
)
def customer_interpurchase_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cadence segmentation: each customer's mean
    inter-order gap (exact integer days from one customer-keyed LAG)
    banded into monthly/quarterly/yearly/dormant — the replenishment
    clock behind reorder reminders and churn windows (a 'monthly+'
    customer 60 days silent is churning; a 'yearly' one is on
    schedule). Means divide exact integer sums; customers with under
    3 gaps are excluded as unstable."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(
        F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
    )
    gaps = o.select("o_custkey", gap.alias("gap_d")).where(
        F.col("gap_d").isNotNull()
    )
    m = (
        gaps.groupBy("o_custkey")
        .agg(F.count("gap_d").alias("n_gaps"), F.sum("gap_d").alias("s1"))
        .where(F.col("n_gaps") >= 3)
    )
    mean = F.col("s1") / F.col("n_gaps")
    cadence = (
        F.when(mean <= 30, "monthly+")
        .when(mean <= 90, "quarterly")
        .when(mean <= 365, "yearly")
        .otherwise("dormant")
    )
    return m.groupBy(cadence.alias("cadence")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg(mean), 4).alias("avg_gap_days"),
    )


@sql_query(
    "part_supply_geography",
    """
        WITH ps AS (
            SELECT /*+ BROADCAST(s) */ DISTINCT l.l_partkey, s.s_nationkey
            FROM {lineitem} l JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
        ),
        div AS (
            SELECT l_partkey, COUNT(*) AS n_nations FROM ps GROUP BY 1
        )
        SELECT CASE WHEN n_nations = 1 THEN 'single-nation'
                    WHEN n_nations <= 3 THEN '2-3 nations'
                    ELSE '4+ nations' END AS supply_geography,
               COUNT(*) AS n_parts,
               CAST(MIN(n_nations) AS BIGINT) AS min_nations,
               CAST(MAX(n_nations) AS BIGINT) AS max_nations
        FROM div GROUP BY 1
    """,
)
def part_supply_geography(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain geography diversity: how many NATIONS each part
    ships from — the geopolitical-risk cut that HHI's share math
    misses (two suppliers in one country is still one earthquake).
    The supplier dim broadcasts into the fact scan, one distinct on
    (part, nation), one diversity rollup, a 3-band census."""


@sql_query(
    "region_revenue_rollup",
    """
        WITH rev AS (
            SELECT /*+ BROADCAST(n, r) */ r.r_name AS region, n.n_name AS nation,
                   SUM(l.l_extendedprice * (1 - l.l_discount)) AS v
            FROM {lineitem} l
            JOIN {orders} o ON l.l_orderkey = o.o_orderkey
            JOIN {customer} c ON o.o_custkey = c.c_custkey
            JOIN {nation} n ON c.c_nationkey = n.n_nationkey
            JOIN {region} r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2
        ),
        tot AS (SELECT SUM(v) AS t FROM rev)
        SELECT /*+ BROADCAST(tot) */ region,
               COUNT(*) AS n_nations,
               ROUND(SUM(v), 2) AS revenue,
               ROUND(SUM(v) / tot.t, 6) AS revenue_share
        FROM rev CROSS JOIN tot
        GROUP BY region, tot.t
    """,
)
def region_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full snowflake chain in one rollup: fact → orders →
    customer → nation → region, revenue per region with global share
    — the executive cut of the Q5 shape. The three dimension hops
    broadcast (nation and region are 25/5 rows; customer rides the
    fact shuffle), so the plan is one fact-fact shuffle plus
    broadcast probes; the grand total is a 1-row cross. Per-nation
    partials aggregate BEFORE the share division and round at 2dp;
    the share divides the rounded sums so both engines see identical
    numerators."""
