"""Advanced operators: as-of join, range join, pivot, cube,
percentiles, JSON extraction, and the UDF/UDAF surface.

The as-of join is the flagship here — Spark has no native ASOF JOIN
(SURVEY.md §2.4); it is implemented as a union + window scan (one
shuffle on the partition key, no O(n²) pairing, no per-group Python),
which is the scalable formulation for billions of rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_query_engine.queries import EVENTS_ORACLE, load, query, sql_query


@query(
    "join_asof_clicks",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        tagged AS (
            SELECT user_id, event_id, ts, event_type,
                   LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_click_ts
            FROM ev
            WHERE event_type IN ('click', 'purchase')
        )
        SELECT event_id, user_id, ts, last_click_ts,
               CASE WHEN last_click_ts IS NULL THEN NULL
                    ELSE date_diff('microsecond', last_click_ts, ts) END
                   AS gap_us
        FROM tagged
        WHERE event_type = 'purchase'
    """,
)
def join_asof_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for each purchase, the user's most recent strictly
    prior click. Union-and-scan formulation: one shuffle on user_id,
    a single ordered window pass — the 100 TB-safe shape (vs
    merge_asof-per-group, which needs Python, or an inequality join,
    which is quadratic)."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select("user_id", "event_id", "ts", "event_type")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    tagged = ev.withColumn(
        "last_click_ts",
        F.last(
            F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
        ).over(w),
    )
    return tagged.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        "last_click_ts",
        F.expr("timestampdiff(MICROSECOND, last_click_ts, ts)").alias("gap_us"),
    )


@query(
    "join_range_bands",
    oracle="""
        WITH bands(band, lo, hi) AS (VALUES
            ('small', 0.0, 50000.0),
            ('medium', 50000.0, 150000.0),
            ('large', 150000.0, 300000.0),
            ('jumbo', 300000.0, 1000000000.0))
        SELECT b.band, COUNT(*) AS n_orders,
               ROUND(SUM(o.o_totalprice), 2) AS total
        FROM orders o
        JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        GROUP BY b.band
    """,
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against a small bands relation — broadcast
    nested loop on a tiny side, i.e. the only join shape where BNL is
    the right plan; the fact side never shuffles for the join."""
    o = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [
            ("small", 0.0, 50000.0),
            ("medium", 50000.0, 150000.0),
            ("large", 150000.0, 300000.0),
            ("jumbo", 300000.0, 1e9),
        ],
        ["band", "lo", "hi"],
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "agg_pivot",
    oracle="""
        SELECT l_returnflag,
               ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
               ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT — explicit value list so no extra distinct-values pass."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@sql_query(
    "agg_cube",
    """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM {orders}
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (SURVEY.md §2.5 ABSENT row)."""


@query(
    "agg_percentiles",
    oracle="""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.5) AS p50_qty,
               quantile_cont(l_quantity, 0.9) AS p90_qty,
               ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``). At 100 TB prefer ``percentile_approx`` —
    single-pass sketch vs full sort; kept exact here for the oracle."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("p50_qty"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias(
                "p25_price"
            ),
        )
    )


@query(
    "json_extract_props",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE})
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS k,
               CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) >= 50
                    THEN 'high' ELSE 'low' END AS k_band
        FROM ev
        WHERE CAST(json_extract_string(props, '$.k') AS INT) % 7 = 0
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + predicate over a JSON string column
    (SURVEY.md §2.9 ABSENT row)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(
            "event_id",
            k.alias("k"),
            F.when(k >= 50, "high").otherwise("low").alias("k_band"),
        )
        .where(F.col("k") % 7 == 0)
    )


@query(
    "udf_pandas_sigmoid",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE})
        SELECT event_id,
               ROUND(1.0 / (1.0 + exp(-value / 100.0)), 6) AS sigmoid_value
        FROM ev
    """,
)
def udf_pandas_sigmoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Pandas UDF (Arrow-batched — the sanctioned slow
    path, SURVEY.md §2.11; ~10-100× faster than row-at-a-time
    Python). Rounded at 6dp to absorb cross-engine libm last-bits."""

    @F.pandas_udf(T.DoubleType())
    def sigmoid(s: pd.Series) -> pd.Series:
        import numpy as np

        return 1.0 / (1.0 + np.exp(-s / 100.0))

    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.round(sigmoid(F.col("value")), 6).alias("sigmoid_value")
    )


@query(
    "udaf_grouped_pandas",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE})
        SELECT event_type,
               COUNT(*) AS n,
               ROUND(SUM(value * user_id) / SUM(user_id), 4) AS weighted_avg
        FROM ev
        GROUP BY event_type
    """,
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via applyInPandas (the UDAF surface): one
    pandas frame per group, one output row — user_id-weighted mean.
    Rounded 4dp: pandas pairwise summation vs SQL sequential sums
    differ in the last bits."""

    def weighted(pdf: pd.DataFrame) -> pd.DataFrame:
        wsum = float((pdf["value"] * pdf["user_id"]).sum())
        w = float(pdf["user_id"].sum())
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(pdf)],
                "weighted_avg": [round(wsum / w, 4)],
            }
        )

    ev = load(spark, sf_dir, "events").select("event_type", "user_id", "value")
    return ev.groupBy("event_type").applyInPandas(
        weighted, "event_type string, n bigint, weighted_avg double"
    )


@query(
    "udtf_bigrams",
    oracle="""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        bg AS (
            SELECT doc_id, concat_ws(' ', w[i], w[i+1]) AS bigram
            FROM words, UNNEST(range(1, len(w))) AS t(i)
            WHERE len(w) >= 2 AND w[i] <> '' AND w[i+1] <> ''
        )
        SELECT bigram, COUNT(*) AS n
        FROM bg
        GROUP BY bigram
        ORDER BY n DESC, bigram
        LIMIT 50
    """,
)
def udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface — SURVEY.md §2.11: a
    generator class emitting one row per word bigram, applied with
    LATERAL. The UDTF runs per-partition in Python workers (use
    sparingly — explode_tokens shows the pure-JVM equivalent; this
    query exists to exercise the extension surface itself)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram: string")
    class Bigrams:
        def eval(self, text: str):
            toks = text.split(" ")
            for a, b in zip(toks, toks[1:]):
                if a and b:
                    yield (f"{a} {b}",)

    return (
        load(spark, sf_dir, "documents")
        .lateralJoin(Bigrams(F.col("text").outer()))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(50)
    )


@query(
    "variant_props_rollup",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE})
        SELECT CAST(json_extract_string(props, '$.k') AS INT) // 10
                   AS k_decile,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT))
                    AS BIGINT) AS sum_k,
               ROUND(SUM(value), 2) AS total_value
        FROM ev
        GROUP BY 1, 2
    """,
)
def variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured rollup through the VARIANT type (Spark 4):
    ``parse_json`` converts the JSON string ONCE into Spark's binary
    variant encoding, and every subsequent ``variant_get`` is a typed
    path read on that encoding — unlike ``get_json_object``, which
    re-parses the string per extraction. The aggregation groups on an
    extracted integer field, so the whole pipeline (parse → typed
    extract → hash agg) stays in one codegen stage. At 100 TB the
    variant column is what you'd persist (shredded storage), making
    repeated extraction cost independent of raw JSON size. Integer
    division for the decile keys keeps grouping engine-exact."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        F.parse_json("props").alias("p"), "event_type", "value"
    )
    k = F.expr("variant_get(p, '$.k', 'int')")
    return v.select(
        (k / 10).cast("int").alias("k_decile"),
        "event_type",
        "value",
        k.alias("k"),
    ).groupBy("k_decile", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "udtf_polymorphic_onehot",
    oracle="""
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en,
               CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS de,
               CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS fr,
               CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS es,
               CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS zh
        FROM documents
    """,
)
def udtf_polymorphic_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 `analyze()`): the output
    schema — one integer column per language — is computed at PLAN
    time from the constant category-list argument, so the same table
    function one-hot-encodes any categorical column with any label
    set without code changes. `udtf_bigrams` exercised the static
    UDTF surface; this is the dynamic-schema half of §2.11.
    (The JVM equivalent of the encoding itself is a CASE projection —
    the UDTF exists to exercise the extension surface.)"""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class OneHot:
        @staticmethod
        def analyze(value: AnalyzeArgument, cats: AnalyzeArgument):
            return AnalyzeResult(
                StructType(
                    [
                        StructField(c, IntegerType())
                        for c in cats.value.split(",")
                    ]
                )
            )

        def eval(self, value: str, cats: str):
            yield tuple(
                1 if value == c else 0 for c in cats.split(",")
            )

    onehot = udtf(OneHot)(F.col("lang").outer(), F.lit("en,de,fr,es,zh"))
    return (
        load(spark, sf_dir, "documents")
        .lateralJoin(onehot.alias("o"))
        .select("doc_id", "o.*")
    )
