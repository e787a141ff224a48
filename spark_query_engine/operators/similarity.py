"""Similarity search over embedding columns (array<float>).

Two paths, mirroring how ANN is deployed at scale:

- ``cosine_topk`` — brute-force scan: one broadcast of the query
  vector, one pass over the table, TakeOrderedAndProject for top-k.
  Exact; O(n·d) work fully parallel. The right answer up to ~1e9
  rows when k is small and the scan is already needed.
- ``lsh_bucket`` / ``ann_topk_lsh`` — random-hyperplane LSH: each
  vector gets a small integer bucket from the sign pattern of dot
  products with fixed hyperplanes; search probes only the query's
  bucket(s). Sub-linear candidate set; recall tunable via
  ``n_planes`` and multi-probe.

Hyperplanes are generated from a fixed seed and embedded as literals
so the computation is reproducible in any engine (the DuckDB oracle
uses the same literal planes).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_query_engine.operators import (
    blocked_pairs,
    d2_sql,
    nested_sql,
    release_on_drop,
    widen,
)
from spark_query_engine.operators.dedup import cosine


def random_hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic hyperplanes, rounded to 6dp so they can be
    embedded as SQL literals without precision drift."""
    rng = np.random.RandomState(seed)
    return [[round(float(x), 6) for x in row] for row in rng.randn(n_planes, dim)]


def _as_double(vec_col: str) -> Column:
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = integer of sign bits of plane·vec (sequential fold
    per plane — deterministic summation order)."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        lits = F.array(*[F.lit(w) for w in plane])
        dot = F.aggregate(
            F.zip_with(vec, lits, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p).cast("long")).otherwise(0)
    return bucket


def lsh_bucket(
    df: DataFrame, id_col: str, vec_col: str, planes: list[list[float]]
) -> DataFrame:
    """Assign each vector its LSH bucket: (id, vec, bucket)."""
    return widen(df).select(
        F.col(id_col).alias("id"),
        _as_double(vec_col).alias("vec"),
        _bucket_expr(_as_double(vec_col), planes).alias("bucket"),
    )


def cp_rotations(bands: int, dim: int) -> list[list[list[float]]]:
    """Engine-portable pseudo-rotation matrices for cross-polytope LSH:
    entry (b, i, j) = first 8 md5 hex chars of ``cp:b:i:j`` mapped to
    [-1, 1] and 6dp-rounded. md5 → integer → IEEE multiply/divide is
    bit-identical in Python, Spark, and DuckDB (only transcendentals
    diverge across engines), so the SAME matrices can be rebuilt by an
    oracle from SQL alone — no megabyte literal in the oracle text."""
    import hashlib

    return [
        [
            [
                round(
                    int(
                        hashlib.md5(f"cp:{b}:{i}:{j}".encode()).hexdigest()[:8],
                        16,
                    )
                    * 2.0
                    / 4294967295.0
                    - 1.0,
                    6,
                )
                for j in range(dim)
            ]
            for i in range(dim)
        ]
        for b in range(bands)
    ]


def cp_bucket_keys(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    rotations: list[list[list[float]]],
    arity: int = 2,
) -> DataFrame:
    """ARITY-m cross-polytope bucket keys — the key-space knob the
    round-6 scaling study showed is mandatory past ~1e5 vectors per
    shard: with the rank-1/rank-2 keys of ``cp_keys`` the bucket
    space per band is fixed at ~(2·dim)², so iid background
    collisions grow ~n²/(2d)² (measured: dedup_embedding_cosine
    exponent ~1.55 at 10× data, SCALING.md round-6 table). Keying a
    bucket on the TOP-m signed argmax coordinates in rank order gives
    (2·dim)^m buckets: pick m ≈ log_{2d}(n·bands/occupancy) and
    expected occupancy — and with it the collision count per vector —
    stays O(1) as n grows. Same one-scan/zero-shuffle plan as
    ``cp_keys``; exact-duplicate vectors share every band's key at
    any arity, so exact-dup recall is 1 by construction.

    Returns (id, band, key) with key = ':'-joined signed coordinates
    (±1..±dim each), rank order preserved."""
    if arity < 1:
        raise ValueError("cp_bucket_keys: arity must be >= 1")
    v = widen(df).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
    )
    spark = df.sparkSession
    gband = F.broadcast(
        spark.createDataFrame(
            [(b, [list(row) for row in g]) for b, g in enumerate(rotations)],
            "band int, g array<array<double>>",
        )
    )
    yb = (
        v.crossJoin(gband)
        .select(
            "id",
            "band",
            F.transform(
                F.col("g"),
                lambda row: F.round(
                    F.aggregate(
                        F.zip_with(F.col("vec"), row, lambda x, w: x * w),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    6,
                ),
            ).alias("y"),
        )
        # same persist-barrier rationale as cp_keys (Catalyst has no
        # CSE inside higher-order functions); released on result drop
        .persist()
    )
    y = F.col("y")
    cur = F.transform(y, lambda e: F.abs(e))
    parts = []
    for _r in range(arity):
        idx = F.array_position(cur, F.array_max(cur))
        signed = (
            F.when(F.element_at(y, idx.cast("int")) < 0, -idx)
            .otherwise(idx)
            .cast("long")
        )
        parts.append(signed.cast("string"))
        # mask the extracted coordinate out for the next rank. The
        # lambda runs EAGERLY inside F.transform to build the
        # expression tree, so the loop-variable capture of `idx` is
        # bound now, not at iteration end.
        this_idx = idx
        cur = F.transform(
            cur,
            lambda e, i: F.when(i == this_idx - 1, F.lit(-1.0)).otherwise(e),
        )
    return release_on_drop(
        yb.select("id", "band", F.concat_ws(":", *parts).alias("key")),
        yb,
    )


def cp_keys(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    rotations: list[list[list[float]]],
) -> DataFrame:
    """Cross-polytope hash keys (Andoni et al., NeurIPS'15 — the
    near-optimal angular LSH family): per band, pseudo-rotate the
    vector and take the SIGNED ARGMAX coordinate (±1..±dim, 2·dim
    outcomes — a far steeper similarity-collision curve than 1-bit
    sign hashes, which is what makes mid-threshold blocking prune at
    all). Emits the rank-1 key and the rank-2 (second-argmax) key for
    multiprobe.

    Determinism discipline: rotated coordinates are 6dp-rounded
    sequential folds; argmax ties break to the LOWEST coordinate
    (``array_position`` finds the first exact match — mirrored by the
    oracle's ``ORDER BY aby DESC, i``); sign of a rotated coordinate
    y maps to -index iff y < 0. One 3-D literal carries all bands —
    a single Literal plan node, runtime loops, no per-band expression
    blowup. Plan: one scan, zero shuffle, zero Python.

    Returns (id, band, k1, k2) with keys in ±[1, dim]."""
    v = widen(df).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
    )
    # The rotation matrices travel as a BROADCAST bands-row relation,
    # not a literal: pyspark's F.lit on a bands·dim·dim nested list
    # builds the Catalyst value element-by-element (measured 92 s for
    # 32·64·64), while createDataFrame batch-pickles it in under a
    # second — and the broadcast keeps the task binary small.
    spark = df.sparkSession
    gband = F.broadcast(
        spark.createDataFrame(
            [(b, [list(row) for row in g]) for b, g in enumerate(rotations)],
            "band int, g array<array<double>>",
        )
    )
    # The rotation is the expensive part (bands·dim·dim mult-adds per
    # row). Compute ALL rotated coordinates of a band in ONE projected
    # array column — evaluated exactly once per (id, band) row — and
    # materialize behind a persist barrier; Catalyst has no common-
    # subexpression reuse inside higher-order functions, so deriving
    # the keys directly off the rotation expression would re-evaluate
    # the full O(dim²) fold for every reference (measured: ~8×
    # slower). The crossJoin is a BroadcastNestedLoopJoin against a
    # bands-row build side — a map-side fan-out, no shuffle.
    yb = (
        v.crossJoin(gband)
        .select(
            "id",
            "band",
            F.transform(
                F.col("g"),
                lambda row: F.round(
                    F.aggregate(
                        F.zip_with(F.col("vec"), row, lambda x, w: x * w),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    6,
                ),
            ).alias("y"),
        )
        # persist, deliberately: the barrier stops Catalyst
        # re-inlining the O(dim²) rotation fold into every key
        # expression (the measured 8× blowup). A localCheckpoint
        # (eager OR lazy) was tried as a leak-proof replacement and
        # measured 25-35% slower end-to-end on the CP queries at
        # sf0.1, so the persist stays; the cache is released by the
        # caller's spark.catalog.clearCache() between queries (bench
        # does this), which is the repo's cache-lifetime contract for
        # operator-internal persists
        .persist()
    )
    y = F.col("y")
    a = F.transform(y, lambda e: F.abs(e))
    i1 = F.array_position(a, F.array_max(a))
    a2 = F.transform(a, lambda e, i: F.when(i == i1 - 1, F.lit(-1.0)).otherwise(e))
    i2 = F.array_position(a2, F.array_max(a2))

    def signed(idx):
        return (
            F.when(F.element_at(y, idx.cast("int")) < 0, -idx)
            .otherwise(idx)
            .cast("long")
        )

    return release_on_drop(
        yb.select(
            "id", "band", signed(i1).alias("k1"), signed(i2).alias("k2")
        ),
        yb,
    )


#: Measured CP-LSH trade curve (n=2000, d=64, round 5; full table and
#: method in SCALING.md). Per calibration threshold,
#: per (bands, probe_rank): (worst-regime recall, candidate
#: fraction). Candidate fraction is the background collision rate —
#: measured invariant (±0.001) across thresholds and regimes.
_CP_CURVE: dict[float, dict[tuple[int, int], tuple[float, float]]] = {
    0.45: {
        (4, 1): (0.296, 0.035), (8, 1): (0.485, 0.066),
        (4, 2): (0.579, 0.097), (16, 1): (0.747, 0.126),
        (8, 2): (0.813, 0.178), (32, 1): (0.915, 0.225),
        (16, 2): (0.970, 0.312), (32, 2): (1.0, 0.490),
    },
    0.6: {
        (4, 1): (0.488, 0.035), (8, 1): (0.711, 0.066),
        (4, 2): (0.776, 0.097), (16, 1): (0.891, 0.126),
        (8, 2): (0.960, 0.178), (32, 1): (0.990, 0.225),
        (16, 2): (1.0, 0.312), (32, 2): (1.0, 0.490),
    },
    0.8: {
        (4, 1): (0.810, 0.035), (8, 1): (0.970, 0.066),
        (4, 2): (0.955, 0.097), (16, 1): (0.995, 0.126),
        (8, 2): (1.0, 0.178), (32, 1): (1.0, 0.225),
        (16, 2): (1.0, 0.312), (32, 2): (1.0, 0.490),
    },
    0.999: {
        (4, 1): (1.0, 0.035), (8, 1): (1.0, 0.066),
        (4, 2): (1.0, 0.097), (16, 1): (1.0, 0.126),
        (8, 2): (1.0, 0.178), (32, 1): (1.0, 0.225),
        (16, 2): (1.0, 0.312), (32, 2): (1.0, 0.490),
    },
}


def cp_arity(
    n: int, bands: int, dim: int = 64, target_occupancy: int = 64
) -> int:
    """Key arity m for n vectors — the round-6 scaling rule in
    integer arithmetic (EXACT, so a SQL oracle replays it without
    float-log edge cases): the per-band key space must grow with the
    corpus, (2·dim)^m buckets, m chosen as the smallest arity keeping
    expected bucket occupancy ≤ ``target_occupancy`` —
    m = min{ m ≥ 1 : n·bands ≤ occ·(2d)^m }, capped at 5 (that cap
    is n ≈ 5e14 at d=64; see SCALING.md round-6 for the collision
    math: fixed arity ⇒ background candidates ∝ n²/(2d)^m)."""
    m, space = 1, 2 * dim
    while m < 5 and n * bands > target_occupancy * space:
        m += 1
        space *= 2 * dim
    return m


def cp_config(
    threshold: float,
    recall_target: float = 1.0,
    n: int | None = None,
    dim: int = 64,
) -> tuple[int, int, int]:
    """Cheapest measured (bands, probe_rank, arity) meeting
    ``recall_target`` at ``threshold`` — the knob the round-4 verdict
    asked for: the recall/candidate-fraction trade is chosen from the
    MEASURED curve (_CP_CURVE / SCALING.md), not a heuristic.
    Calibration is conservative: the highest measured threshold ≤ the
    requested one (a lower threshold is strictly harder to block
    for). With ``n`` given and a rank-1 config, the key arity grows
    with the corpus per ``cp_arity`` (the round-6 scaling rule);
    arity stays 1 for rank-2 multiprobe configs — multiprobe exists
    to RAISE collision odds for mid-threshold pairs, which higher
    arity would lower again (the two knobs serve opposite regimes:
    arity for near-dup thresholds where qualifying pairs share their
    whole coordinate ranking, multiprobe for similarity levels where
    they don't)."""
    ts = [t for t in sorted(_CP_CURVE) if t <= threshold]
    row = _CP_CURVE[ts[-1] if ts else min(_CP_CURVE)]
    ok = [
        (frac, bands, rank)
        for (bands, rank), (rec, frac) in row.items()
        if rec >= recall_target
    ]
    if not ok:
        bands, rank = 32, 2  # strongest measured setting
    else:
        _frac, bands, rank = min(ok)
    arity = cp_arity(n, bands, dim) if (n is not None and rank == 1) else 1
    return (bands, rank, arity)


def _verify_cosine(cand: DataFrame, v: DataFrame, threshold: float) -> DataFrame:
    """Exact check of candidate pairs (id_a, id_b) against the vectors
    ``v`` (id, vec): (id_a, id_b, cos_sim) for the pairs whose
    6dp-rounded cosine is at least ``threshold``. Blocking upstream can
    only lose pairs, never invent them."""
    va = v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(f"round({cosine('vec_a', 'vec_b')}, 6)").alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def cp_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bands: int | None = None,
    probe_rank: int = 2,
    dim: int = 64,
    recall_target: float = 1.0,
    arity: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via cross-polytope LSH blocking + exact
    cosine verify, with the blocking cost AUDITED in the output: every
    row carries ``candidate_fraction`` = |distinct candidate pairs| /
    (n·(n-1)/2), so the pruning-vs-recall trade is a verified number
    instead of a docstring claim.

    Candidate rule: a pair is a candidate when any band's rank-1 keys
    match, or (probe_rank=2 multiprobe) one side's rank-1 key equals
    the other's rank-2 key. The join is an EQUI-join on (band, key) —
    each side emits its k1 and k2 rows and the (2,2) role pairing is
    filtered out — so candidates shuffle-partition by bucket exactly
    like the sign-LSH path, never a theta join.

    Measured on this corpus's iid-Gaussian embeddings at threshold
    0.45 (qualifying pairs sit 3.6σ into the background similarity
    tail, statistically adjacent to non-qualifying pairs — the
    hardest possible regime for ANY hash family): bands=32 rank-2
    gives recall 1.0 at sf0.01 AND sf0.1 with candidate_fraction
    ≈ 0.49, versus ≈ 0.94 for the sign-LSH config — and the per-band
    collision gap (p₁≈0.077 qualifying vs q≈0.0087 background) puts
    ≈0.5 near the achievable floor for recall-1.0 blocking here. At
    real near-dup thresholds the same operator prunes geometrically:
    see ``dedup_embedding_scaled`` (bands=4, rank-1, fraction ≈2%,
    recall provable — identical-direction vectors share every key).

    With ``bands=None`` the setting auto-configures from the MEASURED
    curve via ``cp_config(threshold, recall_target, n=n_rows)`` — the
    full recall × candidate-fraction grid is in SCALING.md (round 5).

    Arity (round-7, the round-6 scaling rule wired in): rank-1
    configs key each band on the TOP-``arity`` signed coordinates —
    (2·dim)^arity buckets — with ``arity=None`` auto-sized from
    ``n_rows`` via ``cp_arity`` so expected bucket occupancy (and
    with it the n²/(2d)^m background-collision term that measured
    exponent 1.55 on the fixed-arity config) stays bounded as the
    corpus grows. Direction-identical vectors share every band key
    at ANY arity, so near-dup recall is 1 by construction. Arity > 1
    does not compose with rank-2 multiprobe: multiprobe exists to
    RAISE collision odds at mid thresholds, which higher arity would
    undo (use ``cosine_pairs_exact`` there instead — mid-threshold
    output is intrinsically quadratic, see its docstring).
    """
    if bands is None:
        # an explicitly-passed arity survives auto-config (r7 advice:
        # cp_config's arity silently overwrote the caller's)
        bands, probe_rank, cfg_arity = cp_config(
            threshold, recall_target, n=n_rows, dim=dim
        )
        if arity is None:
            arity = cfg_arity
    if arity is None:
        arity = (
            cp_arity(n_rows, bands, dim)
            if (n_rows is not None and probe_rank == 1)
            else 1
        )
    if arity > 1 and probe_rank != 1:
        raise ValueError(
            "cp_near_duplicates: arity > 1 composes with rank-1 keys "
            "only (multiprobe and key concatenation pull opposite ways)"
        )
    v = widen(df).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
    )
    if probe_rank == 1:
        # rank-1: arity-keyed buckets, candidates on exact (band, key)
        # equality — the scale path (key space grows with n)
        keys = cp_bucket_keys(
            df, id_col, vec_col, cp_rotations(bands, dim), arity=arity
        ).persist()
        cand = (
            blocked_pairs(keys, ["band", "key"])
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
            .persist()
        )
    else:
        # persist the small (id, band, k1, k2) key relation: the a/b
        # sides of the candidate self-join both read it (cache
        # lifetime = caller clearCache, see cp_keys)
        keys = cp_keys(df, id_col, vec_col, cp_rotations(bands, dim)).persist()
        roles = keys.select(
            "id",
            "band",
            F.explode(
                F.array(
                    F.struct(F.col("k1").alias("key"), F.lit(1).alias("role")),
                    F.struct(F.col("k2").alias("key"), F.lit(2).alias("role")),
                )
            ).alias("rk"),
        ).select(
            "id", "band", F.col("rk.key").alias("key"), F.col("rk.role").alias("role")
        )
        cand = (
            blocked_pairs(roles, ["band", "key"])
            .where(~((F.col("a.role") == 2) & (F.col("b.role") == 2)))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
            # persist: candidates are read by both the fraction count
            # and the verify join (cache lifetime = caller clearCache,
            # see cp_keys — the checkpoint variant measured 25-35%
            # slower)
            .persist()
        )
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_vec = v.agg(F.count(F.lit(1)).alias("n"))
    frac = (
        n_cand.crossJoin(n_vec)
        .select(
            F.round(
                F.col("n_cand") * 2.0 / (F.col("n") * (F.col("n") - 1)), 6
            ).alias("candidate_fraction")
        )
    )
    verified = _verify_cosine(cand, v, threshold)
    return release_on_drop(
        verified.crossJoin(F.broadcast(frac)).select(
            "id_a", "id_b", "cos_sim", "candidate_fraction"
        ),
        keys,
        cand,
    )


def cosine_pairs_exact(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_rows: int | None = None,
    block_rows: int = 2048,
) -> DataFrame:
    """EXACT all-pairs cosine mining via TILED GEMM — recall 1.0 by
    construction at every scale, because every pair is examined; the
    engineering is making "examine every pair" cost FLOPs instead of
    join machinery.

    Why this exists (the round-6 scaling study's honest negative):
    at background-tail thresholds (0.45 ≈ 3.6σ on iid d=64
    embeddings) the QUALIFYING PAIR COUNT itself is Θ(n²·p) with
    p ≈ 8.5e-5 (closed-form sphere-cap mass; measured 144 pairs at
    n=2k, rate matching), so NO recall-1.0 algorithm can be
    subquadratic — LSH theory gives n^(1+ρ) with ρ>0 at any
    similarity gap, and the measured CP-LSH exponent 1.55 is exactly
    that law. What CAN change is the constant: the blocked-LSH plan
    paid ~1e8 candidate-pair JOIN rows (shuffle + distinct + two
    join-backs + an interpreted 64-element fold per pair, measured
    155.7 s at n=20k); a dense GEMM pays the same n²·d flops at SIMD
    throughput (~1e9 pair-dots/s/core), the information floor for
    the exact problem. FAISS's brute-force path makes the same call.

    Plan shape — all equi-joins, zero BNLJ, zero cartesian:
    1. block: each vector hashes to one of B = ⌈n/block_rows⌉ blocks
       (one n-row shuffle), collected to B packed rows.
    2. tile grid: block x explodes ``sequence(bid, B-1)`` and
       EQUI-joins block y on bid — B(B+1)/2 tile rows, each carrying
       two ~block_rows·d payloads. Data moved ≈ n·B/2 vector copies:
       the classic communication bound for distributed all-pairs /
       matmul (each element meets every other element somewhere).
    3. per tile, Arrow-batched numpy: S = A·Bᵀ / (‖a‖‖b‖), emit id
       pairs with S ≥ threshold − margin. The margin (1e-6 here)
       dwarfs the ≤1e-12 summation-order gap between BLAS pairwise
       sums and a sequential fold, so the prefilter is PROVABLY
       lossless w.r.t. the rounded comparison.
    4. survivors (output-scale, tiny) re-join the vector relation and
       the emitted ``cos_sim`` is the engine-exact sequential fold —
       bit-identical to the brute-force oracle.

    100 TB honesty: with bounded block_rows the tile grid is B² rows,
    so the query stays intrinsically quadratic — as its OUTPUT is.
    Mid-threshold exact mining is not a corpus-scale operation; at
    corpus scale you run ``cp_near_duplicates`` at near-dup
    thresholds (scale-invariant keys, arity ∝ log n) or SemDeDup
    blocking (``corpus_semdedup``), both of which accept defined
    recall trades. This operator is the exact baseline they are
    measured against.
    """
    v = widen(df).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
    )
    n = n_rows if n_rows is not None else v.count()
    nb = max(1, -(-int(n) // block_rows))
    blocks = (
        v.select(F.pmod(F.hash("id"), F.lit(nb)).alias("bid"), "id", "vec")
        .groupBy("bid")
        .agg(F.collect_list(F.struct("id", "vec")).alias("items"))
        # both grid roles read this relation — one shuffle, not two
        .persist()
    )
    grid = blocks.select(
        F.col("bid").alias("bid_x"),
        F.col("items").alias("items_x"),
        F.explode(
            F.sequence(F.col("bid"), F.lit(nb - 1))
        ).alias("bid_y"),
    ).join(
        blocks.select(
            F.col("bid").alias("bid_y"), F.col("items").alias("items_y")
        ),
        "bid_y",
    )
    # lossless prefilter bound: ROUND(x, 6) >= t implies
    # x >= t - 5e-7; BLAS-vs-sequential-fold drift is <= ~1e-12,
    # so t - 1e-6 passes every emitted pair with 500x margin
    pre_t = float(threshold) - 1e-6

    def _tiles(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for xs, ys, same in zip(
                pdf["items_x"], pdf["items_y"], pdf["bid_x"] == pdf["bid_y"]
            ):
                ida = np.fromiter((r["id"] for r in xs), dtype=np.int64)
                A = np.asarray([r["vec"] for r in xs], dtype=np.float64)
                if same:
                    idb, Bm = ida, A
                else:
                    idb = np.fromiter((r["id"] for r in ys), dtype=np.int64)
                    Bm = np.asarray([r["vec"] for r in ys], dtype=np.float64)
                na = np.sqrt((A * A).sum(axis=1))
                nb_ = np.sqrt((Bm * Bm).sum(axis=1))
                # zero vectors never qualify — enforced HERE as an
                # explicit mask, not via the sign of pre_t: at
                # threshold <= 1e-6 pre_t goes non-positive and the
                # inf-norm trick alone (S = 0 rows) would pass the
                # prefilter, sending zero-norm pairs into the exact
                # verify where the cosine fold divides by zero (r7
                # advice row). Masking keeps the prefilter lossless
                # for every legitimate pair at ANY threshold.
                za = na == 0.0
                zb = nb_ == 0.0
                na = np.where(za, np.inf, na)
                nb_ = np.where(zb, np.inf, nb_)
                S = (A @ Bm.T) / (na[:, None] * nb_[None, :])
                mask = (
                    (S >= pre_t)
                    & (ida[:, None] != idb[None, :])
                    & ~za[:, None]
                    & ~zb[None, :]
                )
                ii, jj = np.nonzero(mask)
                lo = np.minimum(ida[ii], idb[jj])
                hi = np.maximum(ida[ii], idb[jj])
                # cross-block tiles see each unordered pair once;
                # same-block tiles see both (i,j) and (j,i) — dedup
                # by keeping the lexicographic orientation
                if same:
                    keep = ida[ii] < idb[jj]
                    lo, hi = lo[keep], hi[keep]
                yield pd.DataFrame({"id_a": lo, "id_b": hi})

    cand = grid.mapInPandas(_tiles, "id_a long, id_b long")
    out = _verify_cosine(cand, v, threshold)
    return release_on_drop(out, blocks)


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact brute-force top-k by cosine. The query vector is a
    literal array (broadcast to every task); the plan is scan →
    project → TakeOrderedAndProject — no shuffle of the table."""
    qlit = nested_sql(query_vec)
    out = (
        widen(df)
        .select(F.col(id_col).alias("id"), _as_double(vec_col).alias("vec"))
        .select("id", F.expr(f"round({cosine('vec', qlit)}, 6)").alias("cos_sim"))
    )
    return out.orderBy(F.col("cos_sim").desc(), F.col("id")).limit(k)


def cosine_range(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    threshold: float,
) -> DataFrame:
    """Radius search: every vector whose cosine similarity to the
    query is >= threshold. Same plan shape as cosine_topk minus the
    top-k heap — scan -> project -> filter, zero shuffle; output size
    is data-dependent, so at 100 TB this streams straight to a sink
    instead of an ordered collect. The threshold compares the ROUNDED
    similarity so the boundary is reproducible across engines."""
    qlit = nested_sql(query_vec)
    out = (
        widen(df)
        .select(F.col(id_col).alias("id"), _as_double(vec_col).alias("vec"))
        .select("id", F.expr(f"round({cosine('vec', qlit)}, 6)").alias("cos_sim"))
    )
    return out.where(F.col("cos_sim") >= threshold)


def ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int = 8
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid by cosine (ties → lowest centroid id). Centroids here are
    the vectors with id < n_centroids — a deterministic stand-in for a
    k-means codebook; the assignment plan (broadcast codebook × one
    scan, argmax per row) is identical whatever the codebook source.

    The codebook is collected into ONE broadcast row and each vector
    picks its centroid with ``array_max`` over
    ``named_struct(round(cos, 6) AS s, -centroid AS nc)``: structs
    order field by field, so the max is the highest rounded similarity
    and, among equals, the highest ``-centroid`` — the lowest id. That
    is the rule a rank-1 window over (cent_sim DESC, centroid) applies,
    NaN and NULL similarities included (NaN sorts above every number,
    NULL below), without the window's shuffle on ``id``. ``id`` must be
    a key: the window kept one row per id, this keeps every row.

    At scale the output is written partitioned/clustered by
    ``centroid`` so a probe reads only its inverted list.
    Returns (id, vec, centroid, cent_sim)."""
    vecs = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("vec"))
    return _nearest_centroid(widen(vecs), _ivf_codebook(vecs, n_centroids))


def _ivf_codebook(vecs: DataFrame, n_centroids: int) -> DataFrame:
    """The id < n_centroids vectors as ONE row ``cb`` of (centroid,
    cvec) structs. The filter is selective, so the branch is not
    widened. An empty codebook is no row, so nothing gets assigned."""
    return (
        vecs.where(F.col("id") < n_centroids)
        .selectExpr("named_struct('centroid', id, 'cvec', vec) AS c")
        .agg(F.collect_list("c").alias("cb"))
        .where(F.size("cb") > 0)
    )


def _nearest_centroid(vecs: DataFrame, codebook: DataFrame) -> DataFrame:
    """(id, vec, centroid, cent_sim): the argmax described in
    ``ivf_assign``, against the broadcast codebook row."""
    best = (
        "array_max(transform(cb, c -> named_struct("
        f"'s', round({cosine('vec', 'c.cvec')}, 6), 'nc', -c.centroid)))"
    )
    # inline() makes (s, nc) generator output: a filter on centroid
    # (ivf_topk's join infers isnotnull) cannot be pushed into the cross
    # join, where it would evaluate the argmax a second time
    scored = vecs.crossJoin(F.broadcast(codebook)).select(
        "id", "vec", F.inline(F.array(F.expr(best)))
    )
    return scored.selectExpr("id", "vec", "-nc AS centroid", "s AS cent_sim")


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    n_centroids: int = 8,
    k: int = 5,
) -> DataFrame:
    """IVF probe: rank by exact cosine only within the query's inverted
    list (its nearest centroid's cluster). One broadcast-assignment
    pass + a probe that touches ~1/n_centroids of the data — the
    classic recall/cost trade; multi-probe = relax the centroid filter
    to the top-p centroids. The query's own row is assigned straight
    from the scan: a point lookup needs no widening either."""
    vecs = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("vec"))
    codebook = _ivf_codebook(vecs, n_centroids)
    assigned = _nearest_centroid(widen(vecs), codebook)
    qrow = _nearest_centroid(vecs.where(F.col("id") == query_id), codebook).select(
        F.col("centroid").alias("qcent"), F.col("vec").alias("qvec")
    )
    members = assigned.join(F.broadcast(qrow), F.col("centroid") == F.col("qcent"))
    return (
        members.where(F.col("id") != query_id)
        .select(
            "id",
            "centroid",
            F.expr(f"round({cosine('vec', 'qvec')}, 6)").alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )


def pq_encode(
    v: DataFrame,
    codebooks: list[list[list[float]]],
    sub_dim: int,
) -> DataFrame:
    """Product quantization encode: split each vector into ``m``
    subvectors, quantize each to its nearest sub-centroid by squared
    L2 (6dp-rounded, ties → lowest code). A d-dim float vector
    compresses to m small ints — the memory step that lets a 100 TB
    embedding corpus fit an in-RAM ANN index (64 floats → 4 bytes at
    m=4, k=16).

    The codebooks ride as literals inside the projection (same
    codegen-loop pattern as the k-means assignment): encode is one
    scan, zero shuffle, zero Python. Returns (id, vec, codes) with
    ``codes[j]`` ∈ [0, k)."""
    # r11 OPT: each subspace's code is ONE F.expr parse — the former
    # per-code Python-lambda HOF chain (transform + zip_with +
    # aggregate per subspace) cost dozens of py4j round trips per
    # lambda, re-paid at every construction (construction is inside
    # the bench's timed region). Same fold text ⇒ bit-identical.
    codes = []
    for j, cb in enumerate(codebooks):
        sub = f"slice(vec,{j * sub_dim + 1},{sub_dim})"
        dists = f"transform({nested_sql(cb)}, c -> {d2_sql(sub, 'c')})"
        codes.append(
            F.expr(
                f"CAST(array_position({dists}, array_min({dists})) - 1 "
                f"AS INT)"
            )
        )
    return v.select("id", "vec", F.array(*codes).alias("codes"))


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    sub_dim: int,
    k: int = 10,
    exclude_id=None,
) -> DataFrame:
    """Asymmetric distance computation: estimated d²(q, x) = Σ_j
    d²(q_sub_j, centroid_j[codes[j]]). The per-subspace lookup tables
    are ``transform``s over LITERAL codebooks against the LITERAL
    query — Catalyst constant-folds them at planning, so each row
    costs m array lookups + one 4-term sum. Scan → project →
    TakeOrderedAndProject: the PQ probe never shuffles the table."""
    q = [float(x) for x in query_vec]

    # r11 OPT: the whole ADC sum is ONE F.expr parse (was a per-
    # subspace Python-lambda HOF chain — dozens of py4j round trips
    # per lambda at every construction). Same fold text and the same
    # left-to-right addition order ⇒ bit-identical.
    terms = ["0D"]
    for j, cb in enumerate(codebooks):
        q_sub = nested_sql(q[j * sub_dim : (j + 1) * sub_dim])
        lut = f"transform({nested_sql(cb)}, c -> {d2_sql(q_sub, 'c')})"
        terms.append(f"element_at({lut}, codes[{j}] + 1)")
    adc = F.expr("(" + " + ".join(terms) + ")")
    out = encoded.select("id", F.round(adc, 6).alias("adc_dist"))
    if exclude_id is not None:
        out = out.where(F.col("id") != exclude_id)
    return out.orderBy(F.col("adc_dist").asc(), F.col("id")).limit(k)


def pq_train_codebooks(
    v: DataFrame,
    m: int,
    sub_dim: int,
    k: int = 16,
    iters: int = 2,
    seed_rows: list | None = None,
) -> list[list[list[float]]]:
    """Train ALL ``m`` PQ sub-codebooks at once: per-subspace Lloyd's
    k-means under squared L2 (the PQ objective — subvectors are not
    unit-norm, so cosine is the wrong metric), batched so one Spark
    job per iteration trains every subspace.

    The trick is treating the subspace index ``j`` as a grouping
    column: each vector explodes into ``m`` (id, j, subvector) rows in
    a single scan, the current codebooks ride as ONE 3-D literal
    (``element_at(lit, j+1)`` selects a subspace's k×sub_dim table),
    and the re-estimation step is a (j, code, pos)-keyed mean — a hash
    aggregation with map-side combine producing exactly m·k·sub_dim
    rows per iteration. Driver state is the codebooks themselves
    (m·k·sub_dim floats — kilobytes), the same model-state contract as
    ``clustering.kmeans_fit``.

    Determinism (exact-oracle discipline): init = the 6dp-rounded
    subvectors of the vectors with id < k; distances 6dp-rounded
    before the argmin with ties → lowest code; means 6dp-rounded;
    empty cells keep their previous centroid. A DuckDB oracle
    replaying the same CTE chain reproduces the codebooks
    bit-for-bit. Returns codebooks[j][code] = sub-centroid.

    ``seed_rows``: pre-collected (id, vec) rows covering at least
    id < k — callers that already fetched a head slice (query vector)
    pass it through so the init skips a second collect job (the
    ``kmeans_fit`` r8 contract)."""
    v = v.persist()
    init = (
        [r for r in seed_rows if int(r["id"]) < k]
        if seed_rows is not None
        else v.where(F.col("id") < k).select("id", "vec").collect()
    )
    # The oracle's init CTE keys codes BY ID (`id AS code`), while the
    # list below keys them by POSITION in the id-sorted collect — the
    # two agree only when the ids are exactly {0..k-1}. Guard it: on a
    # corpus with sparse/offset ids the codebook would silently train
    # with <k cells and every code would diverge from the oracle's.
    got = sorted(int(r["id"]) for r in init)
    if got != list(range(k)):
        raise ValueError(
            f"pq_train_codebooks: init expects ids 0..{k - 1} present "
            f"(got {got[:5]}{'...' if len(got) > 5 else ''}); re-key "
            "the corpus or pass explicit seed vectors"
        )
    cbs: list[list[list[float]]] = [
        [
            [round(float(x), 6) for x in r["vec"][j * sub_dim:(j + 1) * sub_dim]]
            for r in sorted(init, key=lambda r: int(r["id"]))
        ]
        for j in range(m)
    ]

    subs = v.select(
        "id",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice("vec", j * sub_dim + 1, sub_dim).alias("s"),
                    )
                    for j in range(m)
                ]
            )
        ),
    )

    for _ in range(iters):
        # r11 OPT: the per-iteration argmin-code and the mean-vector
        # reassembly are each ONE F.expr parse (same fold text as the
        # former Python-lambda HOF chain ⇒ bit-identical), instead of
        # re-building transform/zip_with/aggregate lambdas through
        # py4j on every Lloyd iteration.
        cb_sql = nested_sql([[list(c) for c in cb] for cb in cbs])
        dists = (
            f"transform(element_at({cb_sql}, j + 1), "
            f"c -> {d2_sql('s', 'c')})"
        )
        code = F.expr(
            f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"
        )
        means = (
            subs.select("j", code.alias("code"), F.posexplode("s").alias("pos", "val"))
            .groupBy("j", "code", "pos")
            .agg(F.round(F.avg("val"), 6).alias("val"))
            .groupBy("j", "code")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, val)))"
                    ", r -> r.val)"
                ).alias("c")
            )
        )
        for r in means.collect():
            cbs[int(r["j"])][int(r["code"])] = [float(x) for x in r["c"]]
    # NOTE: v stays persisted on purpose — every caller keeps using
    # the vector relation after training (query fetch, encode, rerank)
    # and the cache lifetime is the caller's (clearCache contract).
    return cbs


def ann_topk_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 5,
    exclude_id=None,
) -> DataFrame:
    """Approximate top-k: probe only the query's LSH bucket, rank by
    exact cosine within it. At scale the bucket column is a partition/
    cluster key, so the probe reads ~1/2^n_planes of the data."""
    q = [float(x) for x in query_vec]
    qbucket = 0
    for p, plane in enumerate(planes):
        dot = 0.0
        for x, w in zip(q, plane):
            dot += x * w
        if dot > 0:
            qbucket |= 1 << p
    bucketed = lsh_bucket(df, id_col, vec_col, planes).where(
        F.col("bucket") == qbucket
    )
    if exclude_id is not None:
        bucketed = bucketed.where(F.col("id") != exclude_id)
    qlit = nested_sql(q)
    return (
        bucketed.select(
            "id", F.expr(f"round({cosine('vec', qlit)}, 6)").alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )


def ann_topk_lsh_multiprobe(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 5,
    max_flips: int = 1,
    exclude_id=None,
) -> DataFrame:
    """Multi-probe LSH top-k: probe the query's bucket AND every
    bucket within ``max_flips`` sign-bit flips (Hamming ball), then
    rank by exact cosine over the union. A vector near a hyperplane
    falls on the wrong side with probability ∝ its margin; probing
    1-flip neighbors recovers exactly those borderline misses —
    recall rises from the single-probe (1-p)^planes at the cost of
    1 + n_planes buckets instead of one (still ~(1+n)/2^n of the
    table; partition pruning still applies because the probe set is
    a literal list at plan time, not a runtime predicate)."""
    q = [float(x) for x in query_vec]
    qbucket = 0
    for p, plane in enumerate(planes):
        dot = 0.0
        for x, w in zip(q, plane):
            dot += x * w
        if dot > 0:
            qbucket |= 1 << p
    bucketed = lsh_bucket(df, id_col, vec_col, planes).where(
        F.bit_count(
            F.col("bucket").bitwiseXOR(F.lit(qbucket))
        )
        <= max_flips
    )
    if exclude_id is not None:
        bucketed = bucketed.where(F.col("id") != exclude_id)
    qlit = nested_sql(q)
    return (
        bucketed.select(
            "id", F.expr(f"round({cosine('vec', qlit)}, 6)").alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )
