"""Beyond-parity operators for large-scale training-data pipelines.

The reference engine (SURVEY.md §2) stops at a five-operator
relational core; a 100 TB data-curation pipeline additionally needs
deduplication, similarity search, text analysis, and multimodal column
handling. Each operator here is a pure DataFrame→DataFrame transform,
built from JVM-side expressions (no row-at-a-time Python), designed so
the expensive steps are equi-joins/aggregations that shuffle on
well-distributed keys — never driver-side loops or O(n²) cross
products, except where explicitly documented as small-N baselines.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def widen(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Ensure at least defaultParallelism partitions before expensive
    per-row work (shingling, hashing, UDF batches).

    Small local inputs arrive as a single parquet split, which would
    serialize CPU-heavy expressions onto one core; a real cluster scan
    has splits ≫ cores, making this a no-op there — it only guards the
    under-partitioned case, never collapses a well-partitioned scan.

    The guard reads ``df.inputFiles()`` (leaf-scan metadata, no job,
    no RDD lineage — ``df.rdd.getNumPartitions()`` would force a full
    physical re-plan per call) as the split-count proxy: file count
    under-approximates splits only for multi-split large files, and a
    table that large does not need widening in the first place.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * min_factor
    try:
        n_splits = len(df.inputFiles())
    except Exception:
        n_splits = 0
    if n_splits < target:
        return df.repartition(target)
    return df


def nested_sql(nested) -> str:
    """Render a nested Python float list as a SQL ``array(array(...))``
    literal STRING, so whole-expression ``F.expr`` builders (r11: the
    PQ training-loop fold rewrite) can splice codebook literals into a
    single SQL string instead of composing Column objects through
    py4j (``F.lit`` crosses the bridge once per element). Finite
    doubles only; ``repr`` round-trips them exactly (both Python and
    Spark parse a decimal string to the nearest IEEE double)."""
    if isinstance(nested, (list, tuple)):
        return "array(" + ",".join(nested_sql(x) for x in nested) + ")"
    x = float(nested)
    if x != x or x in (float("inf"), float("-inf")):
        raise ValueError("nested_sql: finite values only")
    return repr(x) + "D"


def d2_sql(a: str, b: str) -> str:
    """Squared-L2 fold between two array<double> SQL expressions as a
    SQL string, 6dp-rounded — the textual twin of the Column-built
    ``zip_with``/``aggregate`` fold (same sequential op order, so
    bit-identical results). r11 measurement note: the text form wins
    ONLY where a loop otherwise re-composes Python-lambda HOFs around
    a large literal every iteration (pq_train_codebooks: 5.0→3.6 s at
    sf0.1); interpolating the SAME text twice into one expression
    re-parses big literal subtrees that Column composition shares by
    reference, so the broad rewrite of the assignment/encode folds
    measured SLOWER and was reverted — keep those Column-built."""
    return (
        f"round(aggregate(zip_with({a},{b},(x,y)->(x-y)*(x-y)),"
        f"0D,(acc,x)->acc+x),6)"
    )


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate a DataFrame's lineage with a checkpoint barrier,
    routed by deployment mode (r11 verdict task 2).

    Local / single-JVM (the default): ``localCheckpoint`` — blocks
    live on the executors at MEMORY_AND_DISK with no replication and
    the lineage is DISCARDED, so it is the cheapest barrier but an
    executor loss makes the data unrecoverable (guide §5). That trade
    is free on ``local[N]`` where executor == driver == one process.

    Cluster: when the Spark conf
    ``spark.spark_query_engine.checkpoint.dir`` names a reliable
    checkpoint directory (an HDFS/object-store path set at submit
    time), route through reliable ``DataFrame.checkpoint()`` against
    ``sc.setCheckpointDir`` so the barrier state survives executor
    loss. Default off locally so the bench measures the same code path
    the driver harness times.

    ``eager=False`` keeps the lazy-barrier semantics several operators
    rely on (the cut must not force a job of its own; materialization
    happens on the consumer's first action).
    """
    spark = df.sparkSession
    ckpt_dir = spark.conf.get("spark.spark_query_engine.checkpoint.dir", None)
    if ckpt_dir:
        sc = spark.sparkContext
        # set once per context; setCheckpointDir is idempotent but
        # creates a fresh UUID subdir on every call
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def blocked_pairs(rel: DataFrame, keys: list[str], id_col: str = "id") -> DataFrame:
    """The oriented blocking self-join: ``rel`` aliased ``a`` and ``b``,
    joined on equal ``keys`` with ``a.<id_col> < b.<id_col>``. Each
    unordered pair of rows sharing a block key meets once per key it
    shares, so callers that can share several keys ``distinct`` their
    projection. The equal keys are the hash-join keys: only rows in
    one block are ever compared. The condition is one ``F.expr`` parse.
    """
    cond = " AND ".join(
        [f"a.{k} = b.{k}" for k in keys] + [f"a.{id_col} < b.{id_col}"]
    )
    return rel.alias("a").join(rel.alias("b"), F.expr(cond))


def release_on_drop(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie operator-internal ``persist()`` lifetimes to the RESULT.

    Several operators persist an intermediate deliberately (a barrier
    against Catalyst re-inlining an expensive fold, or a relation read
    by multiple downstream branches) while returning a LAZY DataFrame
    that still references the cache — so an in-function ``unpersist()``
    is impossible without forcing materialization, and the repo's
    bench/checker released these via ``spark.catalog.clearCache()``.
    Arbitrary library consumers won't do that, so: register a weakref
    finalizer that unpersists every handle the moment the returned
    DataFrame object is garbage-collected (CPython refcounting makes
    that the point where the caller drops the result — after their
    collect/write). Until then the closure keeps the handles alive, so
    the barrier semantics and measured performance are unchanged. A
    second invocation after the first result is dropped re-caches
    fresh — no "already cached" warnings, no unbounded cache growth.

    The result must NOT appear among ``cached``: ``weakref.finalize``
    holds a strong reference to the callback's arguments, so a
    self-referential registration pins the result alive forever and
    the finalizer can never fire (the round-6 ``bpe_train`` leak).
    When the persisted relation IS the result, wrap it first —
    ``DataFrame(result._jdf, result.sparkSession)`` — and register
    the wrapper.

    CHECKPOINTED handles (r12, advisor row 1): ``DataFrame.unpersist``
    is a deliberate no-op on a ``cut_lineage``/``localCheckpoint``
    barrier — its blocks belong to the checkpointed RDD, not the cache
    manager. That is by DESIGN here, not an oversight: unpersisting a
    locally-checkpointed RDD destroys data that has NO lineage to
    recompute from, so any still-live derived DataFrame would fail its
    next action, whereas an unpersisted cache merely recomputes. A
    finalizer cannot know whether derived frames outlive the result
    (``carry_caches`` compositions do exactly that), so checkpoint
    blocks are left to Spark's ContextCleaner, which unpersists them
    once the JVM-side Dataset is garbage-collected (driven by py4j
    handle release + periodic GC, ``spark.cleaner.periodicGC.interval``
    default 30 min). ``tools/ckpt_leak_probe.py`` measures the
    steady-state block residue across repeated checkpoint-heavy query
    runs so the accumulation stays a bounded, observed number.
    """
    import weakref

    if any(h is result for h in cached):
        raise ValueError(
            "release_on_drop: the result must not be one of its own "
            "cache handles (the finalizer would pin it alive forever);"
            " wrap it in DataFrame(result._jdf, result.sparkSession)"
        )

    def _release(handles=cached):
        for h in handles:
            try:
                h.unpersist()
            except Exception:
                # session already stopped / cache already cleared —
                # nothing to release
                pass

    weakref.finalize(result, _release)
    return result


def carry_caches(result: DataFrame, *parents: DataFrame) -> DataFrame:
    """Chain cache lifetimes through a COMPOSITION.

    ``release_on_drop`` fires when the operator's own result object is
    garbage-collected. A query that derives further DataFrames from
    that result and returns the derivative lets the intermediate die
    at function return — the caches release before the caller's
    collect, which is CORRECT (the plan recomputes) but pays the
    intermediate's recompute once. Where that recompute is expensive
    (a MinHash shingle relation, a k-means vector cache, a BPE merge
    chain), attach the intermediate to the outer result so its
    finalizer — and therefore its unpersist — waits for the OUTER
    result to be dropped.

    Mechanism note: nothing ever READS ``_sqe_cache_parents`` — the
    attribute exists purely to hold a strong reference chain
    (outer result → intermediate result → finalize closure → cache
    handles), so the intermediates' finalizers are deferred by
    ordinary CPython refcounting until the outer result drops. The
    attribute name is only a namespace for that reference."""
    existing = getattr(result, "_sqe_cache_parents", ())
    result._sqe_cache_parents = tuple(existing) + parents
    return result


from spark_query_engine.operators import (  # noqa: E402
    clustering,
    dedup,
    graph,
    maintenance,
    multimodal,
    similarity,
    skew,
    textanalysis,
    timeseries,
)

__all__ = [
    "clustering",
    "dedup",
    "graph",
    "maintenance",
    "multimodal",
    "similarity",
    "skew",
    "textanalysis",
    "timeseries",
    "widen",
    "cut_lineage",
    "blocked_pairs",
    "release_on_drop",
    "carry_caches",
]
