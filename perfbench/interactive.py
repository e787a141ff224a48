"""Selective relational queries collected to the driver: the relational
half of the ``queries`` workload.

Six templates in reference-parity and TPC-H q1/q6/q14 shapes, built
through ``ExecutionContext.parquet``/``sql`` and the ``Dataframe``
verbs. Every op draws fresh literals (segment, date range, top-k,
nation, ...) from the seed, so a result cache cannot win trivially;
all parameterizations are answered by DuckDB before any timing.
"""

from __future__ import annotations

import time
from datetime import date, timedelta

import numpy as np

from perfbench import check, datagen

#: parameterizations drawn per template; ops cycle through them
POOL = 16


def _d(days: int) -> str:
    return (date(1995, 1, 1) + timedelta(days=int(days))).isoformat()


class Interactive:
    def __init__(self, root, seed, tracer):
        self.root, self.seed, self.tr = root, seed, tracer
        self.templates = [
            ("parity_filter_project", self._parity, ["customer"]),
            ("q6_forecast_revenue", self._q6, ["lineitem"]),
            ("q1_pricing_summary", self._q1, ["lineitem"]),
            ("q14_promo_effect", self._q14, ["lineitem", "part"]),
            ("topk_orders", self._topk, ["orders"]),
            ("nation_segment_revenue", self._nation, ["orders", "customer"]),
        ]
        self.ops_per_pass = len(self.templates)

    # --- inputs ---------------------------------------------------------

    def generate(self) -> None:
        self.rows = datagen.tpch(self.root, self.seed)
        rng = np.random.default_rng([self.seed, 10])
        self.params = [
            [self._draw(t, rng) for _ in range(POOL)] for t, _, _ in self.templates
        ]

    def _draw(self, template: str, rng) -> dict:
        if template == "parity_filter_project":
            return {"seg": datagen.SEGMENTS[rng.integers(0, 5)], "nation": int(rng.integers(0, 25))}
        if template == "q6_forecast_revenue":
            d0, disc = int(rng.integers(0, 2100)), int(rng.integers(2, 10))
            return {
                "lo": _d(d0),
                "hi": _d(d0 + 365),
                "dlo": (disc - 1) / 100.0,
                "dhi": (disc + 1) / 100.0,
                "qty": int(rng.integers(20, 30)),
            }
        if template == "q1_pricing_summary":
            return {"hi": _d(int(rng.integers(1500, 2450)))}
        if template == "q14_promo_effect":
            d0 = int(rng.integers(0, 2400))
            return {"lo": _d(d0), "hi": _d(d0 + 30)}
        if template == "topk_orders":
            d0 = int(rng.integers(0, 2300))
            return {
                "lo": _d(d0),
                "hi": _d(d0 + 90),
                "prio": datagen.PRIORITIES[rng.integers(0, 5)],
                "k": int(rng.integers(5, 21)),
            }
        return {  # nation_segment_revenue
            "nation": f"NATION_{int(rng.integers(0, 25))}",
            "lo": _d(int(rng.integers(0, 2000))),
            "hi": _d(int(rng.integers(2000, 2404))),
        }

    def register(self, ctx) -> None:
        """Sources for the SQL templates, registered once per session."""
        for t in ("lineitem", "part", "orders", "customer", "nation"):
            ctx.register(t, ctx.parquet(str(self.root / f"{t}.parquet")))
        self.ctx = ctx

    def prepare(self, duck) -> None:
        self.want = []
        for (name, _, _), pool in zip(self.templates, self.params):
            ordered = name == "topk_orders"
            self.want.append(
                [check.normalize(duck.execute(_ORACLE[name].format(**p)).fetchall(), ordered)
                 for p in pool]
            )

    # --- ops --------------------------------------------------------------

    def run_op(self, i: int, spark) -> dict:
        t, j = i % len(self.templates), (i // len(self.templates)) % POOL
        name, build, tables = self.templates[t]
        p = self.params[t][j]
        t0 = time.perf_counter()
        with self.tr.span("dataframe.build"):
            df = build(p)
        if self.tr.enabled:
            from spark_query_engine import plans

            sdf = df.to_spark()
            with self.tr.span("plans.optimize"):
                plans.format_plan(sdf, "optimized")
            with self.tr.span("plans.physical"):
                plans.format_plan(sdf, "physical")
        with self.tr.span("dataframe.collect"):
            rows = df.collect()
        latency = time.perf_counter() - t0  # the check below is not the program's time
        ok = check.same_rows(rows, self.want[t][j], ordered=name == "topk_orders")
        return {"ok": ok, "rows_in": sum(self.rows[x] for x in tables), "latency_s": latency}

    def rebuild(self, spark) -> list:
        """One pass of the Spark DataFrames the ops collect, for per-layer
        probes."""
        return [build(self.params[t][0]).to_spark() for t, (_, build, _) in enumerate(self.templates)]

    def _src(self, table: str):
        with self.tr.span("context.source"):
            return self.ctx.parquet(str(self.root / f"{table}.parquet"))

    def _parity(self, p):
        from spark_query_engine import col, lit, lit_string

        return (
            self._src("customer")
            .filter((col("c_mktsegment") == lit_string(p["seg"])) & (col("c_nationkey") == lit(p["nation"])))
            .project(col("c_custkey"), col("c_name"), col("c_acctbal"))
        )

    def _q6(self, p):
        from spark_query_engine import cast, col, lit, sum

        lo, hi = cast(lit(p["lo"]), "timestamp_ntz"), cast(lit(p["hi"]), "timestamp_ntz")
        return (
            self._src("lineitem")
            .filter(
                (col("l_shipdate") >= lo)
                & (col("l_shipdate") < hi)
                & (col("l_discount") >= lit(p["dlo"]))
                & (col("l_discount") <= lit(p["dhi"]))
                & (col("l_quantity") < lit(float(p["qty"])))
            )
            .aggregate([], [sum(col("l_extendedprice") * col("l_discount")).alias("revenue")])
        )

    def _q1(self, p):
        from spark_query_engine import avg, cast, col, count, lit, sum

        disc_price = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        return (
            self._src("lineitem")
            .filter(col("l_shipdate") <= cast(lit(p["hi"]), "timestamp_ntz"))
            .aggregate(
                [col("l_returnflag"), col("l_linestatus")],
                [
                    sum(col("l_quantity")).alias("sum_qty"),
                    sum(col("l_extendedprice")).alias("sum_base_price"),
                    sum(disc_price).alias("sum_disc_price"),
                    sum(disc_price * (lit(1.0) + col("l_tax"))).alias("sum_charge"),
                    avg(col("l_discount")).alias("avg_disc"),
                    count(lit(1)).alias("count_order"),
                ],
            )
        )

    def _q14(self, p):
        return self.ctx.sql(_SPARK_Q14.format(**p))

    def _topk(self, p):
        from spark_query_engine import cast, col, lit, lit_string

        return (
            self._src("orders")
            .filter(
                (col("o_orderdate") >= cast(lit(p["lo"]), "timestamp_ntz"))
                & (col("o_orderdate") < cast(lit(p["hi"]), "timestamp_ntz"))
                & (col("o_orderpriority") == lit_string(p["prio"]))
            )
            .sort(col("o_totalprice").desc(), col("o_orderkey"))
            .limit(p["k"])
            .project(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        )

    def _nation(self, p):
        return self.ctx.sql(_SPARK_NATION.format(**p))


_SPARK_Q14 = """
    SELECT 100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                            THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
           / SUM(l.l_extendedprice * (1 - l.l_discount)) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP_NTZ '{lo}' AND l.l_shipdate < TIMESTAMP_NTZ '{hi}'
"""

_SPARK_NATION = """
    SELECT c.c_mktsegment, COUNT(*) AS n_orders, SUM(o.o_totalprice) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name = '{nation}'
      AND o.o_orderdate >= TIMESTAMP_NTZ '{lo}' AND o.o_orderdate < TIMESTAMP_NTZ '{hi}'
    GROUP BY c.c_mktsegment
"""

_ORACLE = {
    "parity_filter_project": """
        SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE c_mktsegment = '{seg}' AND c_nationkey = {nation}""",
    "q6_forecast_revenue": """
        SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'
          AND l_discount >= {dlo}::DOUBLE AND l_discount <= {dhi}::DOUBLE
          AND l_quantity < {qty}""",
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity), SUM(l_extendedprice),
               SUM(l_extendedprice * (1 - l_discount)),
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
               AVG(l_discount), COUNT(*)
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '{hi}'
        GROUP BY l_returnflag, l_linestatus""",
    "q14_promo_effect": """
        SELECT 100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                                THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
               / SUM(l.l_extendedprice * (1 - l.l_discount))
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '{lo}' AND l.l_shipdate < TIMESTAMP '{hi}'""",
    "topk_orders": """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'
          AND o_orderpriority = '{prio}'
        ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}""",
    "nation_segment_revenue": """
        SELECT c.c_mktsegment, COUNT(*), SUM(o.o_totalprice)
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_name = '{nation}'
          AND o.o_orderdate >= TIMESTAMP '{lo}' AND o.o_orderdate < TIMESTAMP '{hi}'
        GROUP BY c.c_mktsegment""",
}
