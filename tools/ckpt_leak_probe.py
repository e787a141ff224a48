"""Measure localCheckpoint block residue across repeated query runs.

r12 (advisor row 1): ``cut_lineage`` barriers store RDD blocks that
``spark.catalog.clearCache()`` does NOT release (they are checkpoint
blocks, not cache entries) and that ``release_on_drop`` deliberately
leaves alone (unpersisting a locally-checkpointed RDD destroys
unrecoverable data — see the release_on_drop docstring). They are
reclaimed by the ContextCleaner once the JVM-side Dataset is GC'd.
This probe quantifies the steady-state residue: it runs a
checkpoint-heavy query N times (clearCache between runs, bench-style),
samples ``getRDDStorageInfo`` after each, then forces python+JVM GC
and samples again — demonstrating the residue is bounded and
collectable, not a monotonic leak.

With ``--keep-cache`` the runs skip ``clearCache``, so the residue
is what the query leaves once its result is dropped: a query whose
persists go through ``release_on_drop`` leaves none, one that never
releases them grows by its cached relations every run.

Usage: python tools/ckpt_leak_probe.py [query_name] [n_runs] [--keep-cache]
"""

from __future__ import annotations

import gc
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def rdd_blocks(spark) -> tuple[int, float]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    n = sum(i.numCachedPartitions() for i in infos)
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return n, mb


def main() -> None:
    keep_cache = "--keep-cache" in sys.argv
    args = [a for a in sys.argv[1:] if a != "--keep-cache"]
    qname = args[0] if args else "corpus_graph_pagerank"
    n_runs = int(args[1]) if len(args) > 1 else 5
    sf_dir = "/root/testdata/sf0.01"

    from spark_query_engine import queries as registry
    from spark_query_engine.session import get_session

    spark = get_session("ckpt_leak_probe")
    qs = registry.queries()

    print(f"probe: {qname} x {n_runs} at {sf_dir}")
    for i in range(n_runs):
        t0 = time.time()
        qs[qname](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        if not keep_cache:
            spark.catalog.clearCache()
        n, mb = rdd_blocks(spark)
        print(
            f"run {i + 1}: {time.time() - t0:.2f}s — residue after "
            f"{'dropping the result' if keep_cache else 'clearCache'}: "
            f"{n} blocks / {mb:.1f} MB"
        )

    # Collect python handles, then ask the JVM to GC so the
    # ContextCleaner reclaims checkpoint RDDs whose Datasets are dead.
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(3)
    n, mb = rdd_blocks(spark)
    print(f"after forced GC: {n} blocks / {mb:.1f} MB")
    spark.stop()


if __name__ == "__main__":
    main()
