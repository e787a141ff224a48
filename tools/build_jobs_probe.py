"""Count the Spark jobs each registry query fires while it is BUILT.

Calling a registry function should only construct a lazy plan; every
job it launches before an action (schema inference, eager
checkpoints, driver-side collects of model state) is fixed driver cost
that produces no rows. This probe calls each registered query once,
with no action on the result, under its own job group, and reads the
group's job count from the status tracker.

Usage: python tools/build_jobs_probe.py SF_DIR [query ...]

Prints one line per query (jobs, build seconds) and a final JSON line
with the totals. Queries run in registry order in one session, so a
table's schema inference is paid by the first query that reads it.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str]) -> None:
    if not argv:
        sys.exit(__doc__)
    sf_dir = argv[0]

    from spark_query_engine import queries as registry
    from spark_query_engine.session import get_session

    spark = get_session("build_jobs_probe")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    qs = registry.queries()
    names = argv[1:] or list(qs)

    total_jobs, total_s, failed = 0, 0.0, []
    for name in names:
        group = f"build:{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf_dir)
        except Exception as e:  # a query that cannot build is reported, not fatal
            failed.append(name)
            print(f"{name}: build failed: {type(e).__name__}: {e}"[:200])
            continue
        finally:
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(tracker.getJobIdsForGroup(group))
        total_jobs += jobs
        total_s += dt
        print(f"{name}: {jobs} jobs, {dt:.3f} s")
        del df
        spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "queries": len(names) - len(failed),
                "jobs": total_jobs,
                "build_s": round(total_s, 3),
                "failed": failed,
            }
        )
    )


if __name__ == "__main__":
    main(sys.argv[1:])
