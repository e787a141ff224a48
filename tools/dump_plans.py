"""Dump .explain("formatted") for named queries to plans/<dir>/.

Usage: SPARK_GRAFT_SF_DIR=... python tools/dump_plans.py <outdir> <suffix> all|q1 q2 ...
Writes plans/<outdir>/<query>_<suffix>.txt for each query (``all``: every
registry name). Expression ids (``#123``), exchange ids (``plan_id=7``),
PySpark's lambda variable names (``lambda x_90``) and checkpointed
leaves' RDD ids and call sites (``RDD[45] at localCheckpoint at
<unknown>:0``) count up through the session or depend on what ran
before, so they are written as ``#_``, ``plan_id=_``, ``lambda x_`` and
``RDD[_] at localCheckpoint``. Two dumps of the same plans are then
equal, and a parent-versus-change plan check is one ``diff -r``.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

_SESSION_IDS = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"(lambda [a-z]+_)\d+"), r"\1"),
    (re.compile(r"RDD\[\d+\] at (\w+) at [^,]*"), r"RDD[_] at \1"),
)


def normalized_plan(spark, df) -> str:
    """``df``'s ``explain("formatted")`` text with session ids written
    as ``_``."""
    txt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    for pat, repl in _SESSION_IDS:
        txt = pat.sub(repl, txt)
    return txt


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from spark_query_engine import queries as registry
    from spark_query_engine.session import get_session

    spark = get_session("dump_plans")
    qs = registry.queries()
    if names == ["all"]:
        names = sorted(qs)
    d = ROOT / "plans" / outdir
    d.mkdir(parents=True, exist_ok=True)
    for name in names:
        # ``df`` stays bound until the next query is built. Rebinding it
        # drops the previous result, whose ``release_on_drop`` finalizer
        # unpersists caches by plan, so where it is dropped changes
        # which cached relations later plans print; keep it where dumps
        # of earlier commits dropped it, so dumps stay comparable.
        df = qs[name](spark, sf_dir)
        txt = normalized_plan(spark, df)
        (d / f"{name}_{suffix}.txt").write_text(txt)
        print(f"wrote {name}_{suffix}.txt ({len(txt.splitlines())} lines)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
