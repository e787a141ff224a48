"""Graph analytics over pair relations (near-dup candidate graphs,
interaction graphs): iterative PageRank.

Complements ``dedup.connected_components`` (which labels clusters)
with a CENTRALITY signal — which node in a duplicate cluster is the
canonical one, which document a crawl graph keeps linking back to.
Same distributed shape as CC: a checkpointed symmetric edge relation,
one equi-join + one aggregation per round, lineage truncated with
``localCheckpoint``. No driver-side loop over data — only the scalar
node count crosses to the driver (the damping constant's 1/N term).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_query_engine.operators import blocked_pairs, cut_lineage


def copurchase_pairs(li: DataFrame) -> DataFrame:
    """Co-purchase edges of an (``l_orderkey``, ``l_partkey``)
    relation: one (u, v) row, u < v, per pair of parts bought in the
    same order. No dedup — a pair bought together in k orders appears
    k times, so callers choose where the distinct goes."""
    return blocked_pairs(li, ["l_orderkey"], "l_partkey").select(
        F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
    )


def _truncate_deep_lineage(
    df: DataFrame, i: int, iterations: int, every: int = 8
) -> DataFrame:
    """Bound the lazy round-chain's PLAN depth for large iteration
    counts (r7 advice row): the lazy chaining that wins at the
    registered 5 rounds builds an O(iterations)-deep join+aggregate
    plan whose Catalyst analysis/codegen cost grows sharply past
    ~15 rounds. Above that, cut lineage every ``every`` rounds with a
    LAZY localCheckpoint — no job is forced at the cut (materializes
    on first downstream use), so fixed-small-round callers are
    untouched and deep library calls stay plannable. Values are
    unchanged either way (checkpointing replays the same 9dp-rounded
    state)."""
    if iterations > 15 and (i + 1) % every == 0 and (i + 1) < iterations:
        return cut_lineage(df, eager=False)
    return df


def pagerank(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 5,
    damping: float = 0.85,
    round_decimals: int = 9,
) -> DataFrame:
    """PageRank on the UNDIRECTED graph of ``pairs`` (each pair
    contributes both directions). Fixed ``iterations`` rounds of

        pr'(v) = (1-d)/N + d * Σ_{u~v} pr(u)/deg(u)

    with every round's ranks ROUNDed to ``round_decimals`` — the
    repo's iterative float discipline (see kmeans_fit): rounding
    between rounds pins the running state to values every engine
    agrees on, so an unrolled SQL replay matches bit-for-bit.

    Per round: edges ⋈ ranks (equi-join on the node id both relations
    are already hash-partitioned by) + one sum-aggregation on the
    destination id; symmetric edges mean every node receives a
    contribution, so no dangling-mass term is needed.

    Round-7 cost model: the round count is FIXED and each round's
    state is consumed exactly once (by the next round), so the rounds
    chain LAZILY into ONE job — no per-round persist + count + job
    barrier, which the round-6 bench measured as the dominant cost
    of the iterative family (round-latency-bound, exponent ~0.2).
    Only the edge+degree relation is cut (it appears in every
    round); convergence semantics are untouched — same joins, same
    per-round 9dp rounding, bit-identical output. Unlike the CC loop
    the driver makes no per-round decision here, so nothing forces
    materialization. The two barriers are lazy ``cut_lineage``
    checkpoints, which Spark's ContextCleaner reclaims once the result
    is garbage-collected; there is no cache to release.

    Returns (id, pr) for every node in ``pairs``.
    """
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # barrier the symmetric edges FIRST: pairs is usually a lazy
    # candidate-generation DAG (shingles → signatures → band join), and
    # without this both deg and ed would re-run that whole pipeline.
    # r11: LAZY localCheckpoint instead of persist — same single
    # evaluation, but the round chain references ``ed`` once per round
    # and a persist leaves the full candidate lineage in every
    # reference's analyzed plan (the r10 plan: 356 Exchange / 177
    # scans printed for 5 rounds); the checkpoint truncates each
    # reference to a leaf (the cascade-census pattern, measured there
    # 15.1 s degrading → 6.9 s stable).
    sym = cut_lineage(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        eager=False,
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ed = cut_lineage(
        sym.join(deg, "u").select("u", "v", "deg"), eager=False
    )

    n = deg.count()  # scalar model state, as in any iterative job
    # derive (1-d)/N from the same /1000 rational the SQL oracle
    # writes literally: (1.0-0.85)/n is 0.15000000000000002/n, one ULP
    # above the oracle's 0.15/n — a divergence feeding the per-round
    # rounded state (the repo's pinned-state float discipline)
    base = round(1000.0 - damping * 1000.0) / 1000.0 / n
    ranks = deg.select("u", F.lit(1.0 / n).alias("pr"))
    for i in range(iterations):
        ranks = (
            ed.join(ranks, "u")
            .groupBy(F.col("v").alias("u"))
            .agg(
                F.round(
                    F.lit(base)
                    + F.lit(damping) * F.sum(F.col("pr") / F.col("deg")),
                    round_decimals,
                ).alias("pr")
            )
        )
        ranks = _truncate_deep_lineage(ranks, i, iterations)
    return ranks.select(F.col("u").alias("id"), "pr")


def personalized_pagerank(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    seed_mod: int = 5,
    iterations: int = 5,
    damping: float = 0.85,
    round_decimals: int = 9,
) -> DataFrame:
    """Personalized PageRank (Jeh & Widom 2003) on the undirected graph
    of ``pairs``: the teleport mass restarts at a SEED set (here the
    nodes with ``id % seed_mod == 0`` — a deterministic stand-in for
    "trusted domains" / curated crawl seeds) instead of spreading
    uniformly:

        pr'(v) = (1-d)/|S| * [v in S] + d * Σ_{u~v} pr(u)/deg(u)

    The result ranks every node by its random-walk proximity to the
    seeds — the seeded-crawl / TrustRank-style corpus-selection signal
    (docs tightly linked to trusted seeds score high; isolated spam
    clusters decay geometrically).

    Same distributed shape and float discipline as ``pagerank``, and
    the same round-7 cost model: a FIXED round count whose state is
    consumed once per round chains LAZILY into one job — no per-round
    persist/count/localCheckpoint barriers (the measured dominant
    cost of the iterative family at sf0.1). Two per-round fusions on
    top: the seed flag is derived from the id EXPRESSION instead of
    re-joining the nodes relation every round (one join fewer per
    round), and the teleport+damping projection folds into the
    destination aggregation (values unchanged — same 9dp rounding of
    the same mass sums). Only the seed COUNT crosses to the driver.

    Returns (id, is_seed, pr) for every node in ``pairs``.
    """
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # r11: lazy localCheckpoint barriers (see ``pagerank`` above) —
    # same single evaluation, leaf-truncated lineage per round
    # reference.
    sym = cut_lineage(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        eager=False,
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ed = cut_lineage(
        sym.join(deg, "u").select("u", "v", "deg"), eager=False
    )

    seed = (F.col("u") % seed_mod == 0).cast("int")
    nodes = deg.select("u", seed.alias("is_seed"))
    ns = nodes.where(F.col("is_seed") == 1).count()
    base = round(1000.0 - damping * 1000.0) / 1000.0 / ns
    ranks = nodes.select(
        "u", (F.col("is_seed") / F.lit(float(ns))).alias("pr")
    )
    for i in range(iterations):
        ranks = (
            ed.join(ranks, "u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("mass"))
            .select(
                "u",
                F.round(
                    seed * F.lit(base)
                    + F.lit(damping) * F.col("mass"),
                    round_decimals,
                ).alias("pr"),
            )
        )
        ranks = _truncate_deep_lineage(ranks, i, iterations)
    return ranks.select(F.col("u").alias("id"), seed.alias("is_seed"), "pr")
