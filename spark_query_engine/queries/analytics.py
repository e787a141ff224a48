"""Window functions, scalar functions, grouping sets — SURVEY.md §2.6 /
§2.9 (ABSENT in the reference; the only scalar expressions there are
column refs, literals, Eq, a stub And, and an unplanned Cast —
src/logical_plan/mod.rs:244-625).

All expressions are built-in ``pyspark.sql.functions`` — JVM-side,
inside whole-stage codegen. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_query_engine.operators import cut_lineage

from spark_query_engine.queries import load, query, sql_query


@sql_query(
    "window_topk_per_group",
    """
        SELECT c_nationkey, c_custkey, c_acctbal, rn
        FROM (
            SELECT c_nationkey, c_custkey, c_acctbal,
                   ROW_NUMBER() OVER (
                       PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey
                   ) AS rn
            FROM {customer}
        )
        WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ROW_NUMBER — the canonical windowed pattern;
    shuffles once on the partition key."""


@sql_query(
    "window_rank_dense",
    """
        SELECT p_brand, p_partkey, p_retailprice,
               RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk,
               DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_size) AS drnk
        FROM {part}
    """,
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK and DENSE_RANK over two different window orders, each
    partitioned by brand."""


@sql_query(
    "window_running_sum",
    """
        SELECT o_custkey, o_orderkey, o_orderdate,
               ROUND(SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 2) AS running_spend
        FROM {orders}
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate with an explicit ROWS frame."""


@sql_query(
    "window_lag_lead",
    """
        SELECT user_id, event_id, ts,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM {events}
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG and LEAD over each user's event sequence."""


@query(
    "scalar_string_funcs",
    oracle="""
        SELECT p_partkey,
               UPPER(p_brand) AS brand_upper,
               LOWER(p_type) AS type_lower,
               SUBSTR(p_name, 1, 8) AS name_prefix,
               LENGTH(p_name) AS name_len,
               CONCAT(p_brand, ':', p_type) AS brand_type,
               REPLACE(p_type, ' ', '_') AS type_snake,
               TRIM(p_name) AS name_trim
        FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface (SURVEY.md §2.9 ABSENT row)."""
    return load(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.trim("p_name").alias("name_trim"),
    )


@sql_query(
    "scalar_date_funcs",
    """
        SELECT o_orderkey,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
               CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
               CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS order_day,
               CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
               CAST(o_orderdate AS DATE) AS order_date
        FROM {orders}
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function surface. Session TZ is pinned UTC so values
    agree with the oracle's naive timestamps."""


@sql_query(
    "scalar_math_funcs",
    """
        SELECT l_orderkey, l_linenumber,
               ROUND(ABS(l_discount - 0.05), 6) AS abs_disc,
               ROUND(SQRT(l_quantity), 6) AS sqrt_qty,
               CAST(CEIL(l_quantity / 7.0) AS BIGINT) AS ceil_qty,
               CAST(FLOOR(l_quantity / 7.0) AS BIGINT) AS floor_qty,
               CAST(l_linenumber % 3 AS INT) AS line_mod,
               ROUND(LN(l_extendedprice), 6) AS ln_price,
               ROUND(POWER(2.0, CAST(l_linenumber AS DOUBLE)), 6) AS pow2
        FROM {lineitem}
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function surface. ROUND guards the transcendentals
    (sqrt/ln) against cross-engine libm last-bit differences; CEIL/FLOOR
    are pinned to BIGINT on BOTH sides (Spark returns LongType, DuckDB
    returns DOUBLE — the driver hashes typed values, so 28 != 28.0)."""


@sql_query(
    "scalar_case_when",
    """
        SELECT o_orderkey,
               CASE
                   WHEN o_totalprice < 50000.0 THEN 'small'
                   WHEN o_totalprice < 150000.0 THEN 'medium'
                   WHEN o_totalprice < 300000.0 THEN 'large'
                   ELSE 'jumbo'
               END AS price_band,
               CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_open
        FROM {orders}
    """,
)
def scalar_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Searched and simple CASE WHEN banding."""


@sql_query(
    "agg_count_distinct",
    """
        SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) AS n_customers,
               COUNT(*) AS n_orders
        FROM {orders}
        GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregate (SURVEY.md §2.5 ABSENT row). Spark expands
    this to a two-phase aggregation automatically."""


@sql_query(
    "agg_rollup",
    """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM {lineitem}
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (SURVEY.md §2.5 ABSENT row)."""


@query(
    "agg_approx_distinct",
    oracle=None,  # approximate by design — rows-only check
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct — the 100 TB-scale substitute for exact
    COUNT(DISTINCT). No oracle: estimates are engine-specific."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        )
    )


@query(
    "agg_approx_distinct_error",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               TRUE AS within_5pct
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_approx_distinct_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkable contract for the HLL estimate: per group, the
    exact distinct count (hash-verified against the oracle) plus a
    within-5%% flag comparing Spark's HLL sketch to that exact count.
    The oracle asserts the flag is TRUE, so an HLL drifting past 5%%
    relative error turns this row red in the hard gate — a
    quantitative bound on the one value that is engine-specific by
    design (``agg_approx_distinct`` stays rows-only for the raw
    estimates)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("within_5pct"),
        )
    )


@query(
    "scalar_bitwise_funcs",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS key_xor,
               l_orderkey & 255 AS low_byte,
               l_orderkey | 1 AS set_lsb,
               CAST(l_orderkey << 2 AS BIGINT) AS shl2,
               l_orderkey >> 3 AS shr3,
               CAST(bit_count(l_orderkey) AS INT) AS popcount
        FROM lineitem
        WHERE l_orderkey % 100 = 7
    """,
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression battery — the §2.9 scalar family member
    behind every hash/band/bitmap operator in this repo (simhash
    bands, Morton keys, LSH buckets, aHash words): XOR, AND, OR,
    shifts, and population count, all whole-stage-codegen'd, checked
    value-for-value cross-engine on a deterministic key slice."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 7)
    ln = F.col("l_linenumber").cast("bigint")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey").bitwiseXOR(ln).alias("key_xor"),
        F.col("l_orderkey").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("l_orderkey").bitwiseOR(F.lit(1)).alias("set_lsb"),
        F.shiftleft("l_orderkey", 2).cast("bigint").alias("shl2"),
        F.shiftright("l_orderkey", 3).alias("shr3"),
        F.bit_count("l_orderkey").cast("int").alias("popcount"),
    )


@query(
    "agg_digit_histogram",
    oracle="""
        SELECT length(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR))
                   AS n_digits,
               COUNT(*) AS n_orders,
               ROUND(MIN(o_totalprice), 2) AS min_v,
               ROUND(MAX(o_totalprice), 2) AS max_v
        FROM orders
        GROUP BY 1
    """,
)
def agg_digit_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-of-magnitude histogram WITHOUT logarithms: bucket by the
    DIGIT COUNT of the integer part — exact integer/string arithmetic
    where ``floor(log10(v))`` would sit one libm ULP from a bucket
    flip at every power of ten. The magnitude profile is the first
    look at any value column (pricing-tier mix, fraud-range scans,
    Benford-style sanity checks); one map-side-combined aggregation."""
    o = load(spark, sf_dir, "orders")
    n_digits = F.length(
        F.floor("o_totalprice").cast("bigint").cast("string")
    )
    return o.groupBy(n_digits.alias("n_digits")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_v"),
        F.round(F.max("o_totalprice"), 2).alias("max_v"),
    )


@query(
    "scalar_map_funcs",
    oracle="""
        SELECT o_orderstatus AS status,
               o_orderpriority AS priority,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY 1, 2
    """,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type round trip through the engine: build a per-status
    MAP<priority, count> with ``map_from_entries`` over collected
    structs, then explode it back to rows with ``explode(map)`` —
    proving the complex-type layer (construction, element access,
    explosion) preserves values exactly. The oracle computes the same
    counts flat; equality certifies the map detour was lossless. The
    collect_list feeding the map is bounded per status by the
    priority inventory (5 entries) — never row-scaled."""
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    mapped = per.groupBy("o_orderstatus").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderpriority", "n"))
        ).alias("m")
    )
    return mapped.select(
        F.col("o_orderstatus").alias("status"),
        F.explode("m").alias("priority", "n_orders"),
    )


#: KMV (k-minimum-values / bottom-k) sketch geometry: k entries of a
#: 48-bit md5-derived hash (12 hex chars), so both engines replay the
#: sketch bit-for-bit.
_KMV_K = 256
_KMV_SCALE = 1 << 48


@query(
    "agg_kmv_jaccard",
    oracle=f"""
        WITH s AS (
            SELECT source, string_split(text, ' ') AS w FROM documents
        ),
        sh AS (
            SELECT DISTINCT source,
                   concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
            FROM s, UNNEST(range(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 3
        ),
        els AS (
            SELECT DISTINCT source,
                   ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h
            FROM sh
        ),
        ns AS (SELECT source, COUNT(*) AS n FROM els GROUP BY 1),
        rk AS (
            SELECT source, h,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM els
        ),
        sk AS (SELECT source, h FROM rk WHERE rn <= {_KMV_K}),
        skstat AS (
            SELECT source, COUNT(*) AS n_sk, MAX(h) AS kth
            FROM sk GROUP BY 1
        ),
        pairs AS (
            SELECT a.source AS sa, b.source AS sb
            FROM ns a JOIN ns b ON a.source < b.source
        ),
        pool AS (
            SELECT sa, sb, h,
                   MAX(is_a) AS in_a, MAX(is_b) AS in_b
            FROM (
                SELECT p.sa, p.sb, s.h, 1 AS is_a, 0 AS is_b
                FROM pairs p JOIN sk s ON s.source = p.sa
                UNION ALL
                SELECT p.sa, p.sb, s.h, 0, 1
                FROM pairs p JOIN sk s ON s.source = p.sb
            )
            GROUP BY 1, 2, 3
        ),
        ku AS (
            SELECT sa, sb, h, in_a, in_b,
                   ROW_NUMBER() OVER (
                       PARTITION BY sa, sb ORDER BY h
                   ) AS rn
            FROM pool
        ),
        kset AS (
            SELECT sa, sb,
                   COUNT(*) AS ksize,
                   CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS matches
            FROM ku WHERE rn <= {_KMV_K}
            GROUP BY 1, 2
        ),
        inter AS (
            SELECT a.source AS sa, b.source AS sb, COUNT(*) AS ni
            FROM els a JOIN els b
              ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT k.sa AS source_a,
               k.sb AS source_b,
               na.n AS n_a,
               nb.n AS n_b,
               CASE WHEN sta.n_sk < {_KMV_K}
                    THEN ROUND(CAST(sta.n_sk AS DOUBLE), 6)
                    ELSE ROUND(({_KMV_K} - 1) * CAST({_KMV_SCALE} AS DOUBLE)
                               / sta.kth, 6) END AS est_a,
               CASE WHEN stb.n_sk < {_KMV_K}
                    THEN ROUND(CAST(stb.n_sk AS DOUBLE), 6)
                    ELSE ROUND(({_KMV_K} - 1) * CAST({_KMV_SCALE} AS DOUBLE)
                               / stb.kth, 6) END AS est_b,
               ROUND(COALESCE(i.ni, 0) * 1.0
                     / (na.n + nb.n - COALESCE(i.ni, 0)), 6) AS exact_jaccard,
               ROUND(k.matches * 1.0 / k.ksize, 6) AS kmv_jaccard,
               ABS(k.matches * 1.0 / k.ksize
                   - COALESCE(i.ni, 0) * 1.0
                     / (na.n + nb.n - COALESCE(i.ni, 0))) <= 0.15
                   AS within_tol
        FROM kset k
        JOIN ns na ON na.source = k.sa
        JOIN ns nb ON nb.source = k.sb
        JOIN skstat sta ON sta.source = k.sa
        JOIN skstat stb ON stb.source = k.sb
        LEFT JOIN inter i ON i.sa = k.sa AND i.sb = k.sb
    """,
)
def agg_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketches per source over the
    3-word-shingle sets, with the two estimates HLL cannot give you:
    per-pair INTERSECTION and Jaccard (Beyer et al., "On Synopses for
    Distinct-Value Estimation Under Multiset Operations", SIGMOD'07).
    Each source keeps its k smallest 48-bit md5 hashes; distinct
    cardinality est = (k-1)*2^48/kth_min; for a pair, the bottom-k of
    the UNION of the two sketches is itself the union's KMV sketch,
    and the fraction of those k values present in BOTH sketches is an
    unbiased Jaccard estimator. The oracle replays every hash, every
    bottom-k cut, and the exact shingle-set Jaccard, and asserts the
    sketch lands within 0.15 (k=256 => sigma ~ 0.03) — so the sketch
    math, not just the plumbing, is hash-verified.

    Scale: the per-source sketch is one groupBy-ROW_NUMBER top-k (a
    WindowGroupLimit: partial top-k map-side, k rows per source
    shuffled); all pair math runs on |sources|*k rows of sketch state
    — re-scanning NOTHING. At 100 TB the exact-Jaccard side (one
    h-keyed equi-join here, the audit) is what you can no longer
    afford: the sketches answer in O(sources^2 * k) from kilobytes.
    Cited shape: reference has no sketch ops; SURVEY.md §2.5 ABSENT
    approx-aggregate row."""
    from pyspark.sql import Window
    from spark_query_engine.operators import dedup as D

    docs = load(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, "source", "text", 3)
    els = (
        sh.select(
            F.col("id").alias("source"),
            F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    # r11: lazy lineage cut instead of persist (referenced by the
    # per-source census, the sketch window and both sides of the
    # exact-intersection join — leaf-truncated lineage per reference,
    # the pagerank-batch pattern)
    els = cut_lineage(els, eager=False)
    ns = els.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy("h")
    sk = (
        els.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KMV_K)
        .drop("rn")
    )
    sk = cut_lineage(sk, eager=False)
    skstat = sk.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("kth")
    )
    pairs = (
        ns.select(F.col("source").alias("sa"))
        .join(ns.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
    )
    pool = (
        pairs.join(sk.withColumnRenamed("source", "sa"), "sa")
        .select("sa", "sb", "h", F.lit(1).alias("is_a"), F.lit(0).alias("is_b"))
        .unionAll(
            pairs.join(sk.withColumnRenamed("source", "sb"), "sb")
            .select("sa", "sb", "h", F.lit(0), F.lit(1))
        )
        .groupBy("sa", "sb", "h")
        .agg(F.max("is_a").alias("in_a"), F.max("is_b").alias("in_b"))
    )
    wu = Window.partitionBy("sa", "sb").orderBy("h")
    kset = (
        pool.withColumn("rn", F.row_number().over(wu))
        .where(F.col("rn") <= _KMV_K)
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).alias("ksize"),
            F.sum(
                ((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")
            ).alias("matches"),
        )
    )
    ea, eb = els.alias("ea"), els.alias("eb")
    inter = (
        ea.join(
            eb,
            (F.col("ea.h") == F.col("eb.h"))
            & (F.col("ea.source") < F.col("eb.source")),
        )
        .groupBy(
            F.col("ea.source").alias("sa"), F.col("eb.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("ni"))
    )

    def est(stat_prefix: str):
        n_sk, kth = F.col(stat_prefix + ".n_sk"), F.col(stat_prefix + ".kth")
        return F.when(
            n_sk < _KMV_K, F.round(n_sk.cast("double"), 6)
        ).otherwise(
            F.round(
                F.lit(float(_KMV_K - 1)) * F.lit(float(_KMV_SCALE)) / kth, 6
            )
        )

    exact_j = F.coalesce(F.col("ni"), F.lit(0)) / (
        F.col("na.n") + F.col("nb.n") - F.coalesce(F.col("ni"), F.lit(0))
    )
    kmv_j = F.col("matches") / F.col("ksize")
    return (
        kset.join(F.broadcast(ns.alias("na")), F.col("na.source") == F.col("sa"))
        .join(F.broadcast(ns.alias("nb")), F.col("nb.source") == F.col("sb"))
        .join(
            F.broadcast(skstat.alias("sta")), F.col("sta.source") == F.col("sa")
        )
        .join(
            F.broadcast(skstat.alias("stb")), F.col("stb.source") == F.col("sb")
        )
        .join(F.broadcast(inter), ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.col("na.n").alias("n_a"),
            F.col("nb.n").alias("n_b"),
            est("sta").alias("est_a"),
            est("stb").alias("est_b"),
            F.round(exact_j, 6).alias("exact_jaccard"),
            F.round(kmv_j, 6).alias("kmv_jaccard"),
            (F.abs(kmv_j - exact_j) <= 0.15).alias("within_tol"),
        )
    )


#: Join-cardinality CMS geometry: 4 hash rows x 512 buckets.
_JC_D, _JC_W = 4, 512


@query(
    "join_cardinality_sketch",
    oracle=f"""
        WITH ds AS (SELECT unnest(range(0, {_JC_D})) AS d),
        ca AS (
            SELECT d,
                   ('0x' || substr(md5(d::VARCHAR || ':' ||
                                       o_custkey::VARCHAR), 1, 8))
                       ::BIGINT % {_JC_W} AS bucket,
                   COUNT(*) AS c
            FROM orders CROSS JOIN ds
            GROUP BY 1, 2
        ),
        cb AS (
            SELECT d,
                   ('0x' || substr(md5(d::VARCHAR || ':' ||
                                       c_custkey::VARCHAR), 1, 8))
                       ::BIGINT % {_JC_W} AS bucket,
                   COUNT(*) AS c
            FROM customer WHERE c_mktsegment = 'BUILDING'
            GROUP BY 1, 2
        ),
        dots AS (
            SELECT a.d, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
            FROM ca a JOIN cb b ON a.d = b.d AND a.bucket = b.bucket
            GROUP BY 1
        ),
        est AS (SELECT MIN(dot) AS est_join_size FROM dots),
        exact AS (
            SELECT COUNT(*) AS exact_join_size
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
        )
        SELECT exact_join_size,
               est_join_size,
               ROUND(est_join_size * 1.0 / exact_join_size, 6)
                   AS est_over_exact,
               est_join_size >= exact_join_size AS bound_holds
        FROM exact CROSS JOIN est
    """,
)
def join_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION from count-min sketches — the classic
    AGMS/CMS inner-product result (Alon-Gibbons-Matias-Szegedy '99;
    Cormode & Muthukrishnan '05 §4.2): |A join B| = sum_k fA(k)*fB(k),
    and the CMS row-wise dot product min_d <CMS_A[d], CMS_B[d]> is an
    estimate that NEVER undercounts. This is what a 100 TB optimizer
    consults before picking a join strategy: each side's sketch is one
    map-side-combinable aggregation (d*w = {_JC_D}*{_JC_W} cells total
    regardless of row count, mergeable across shards by cell
    addition), and the estimate itself joins two {_JC_D}x{_JC_W}-cell
    relations — kilobytes — instead of executing the join. The oracle
    replays every md5 bucket, every integer counter, and the exact
    join count: integer arithmetic end-to-end, so the row is
    hash-exact, and ``bound_holds`` pins the CMS upper-bound contract.
    Cited shape: reference has no join at all (SURVEY.md §2.4 ABSENT);
    this is the planning layer above one."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    ds = spark.range(_JC_D).select(F.col("id").cast("int").alias("d"))

    def cms(df: DataFrame, key: str) -> DataFrame:
        bucket = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("d").cast("string"),
                            F.lit(":"),
                            F.col(key).cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _JC_W
        )
        return (
            df.crossJoin(F.broadcast(ds))
            .groupBy("d", bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("c"))
        )

    ca = cms(orders, "o_custkey")
    cb = cms(cust, "c_custkey")
    dots = (
        ca.alias("a")
        .join(F.broadcast(cb.alias("b")), ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("long").alias("dot"))
    )
    est = dots.agg(F.min("dot").alias("est_join_size"))
    exact = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_join_size",
        "est_join_size",
        F.round(
            F.col("est_join_size") * 1.0 / F.col("exact_join_size"), 6
        ).alias("est_over_exact"),
        (F.col("est_join_size") >= F.col("exact_join_size")).alias(
            "bound_holds"
        ),
    )
