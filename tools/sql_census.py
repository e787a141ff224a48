"""Census of DataFrame builders that Spark could run from their oracle text.

Usage:  python tools/sql_census.py <sf_dir>

For each ``@query`` builder that has a DuckDB oracle (queries registered
with ``sql_query`` already run their oracle text and are skipped), the
oracle is run through ``spark.sql`` with each table read by ``load()``
and passed as a DataFrame argument, so no named view is created. Prints
one line per builder, ``<module> <name> <status>``, where status is:

- ``no_parse``: Spark rejects the oracle text while parsing, resolving
  or constant-folding it;
- ``schema_diff``: it resolves, but to other column names or types;
- ``same_schema B S``: same columns, another plan; B and S count the
  Exchange nodes of the builder's and the SQL's initial physical plan;
- ``identical``: the normalized ``explain("formatted")`` texts are
  equal, so the builder can be deleted and the query registered with
  ``sql_query``.

Ends with the status counts and the ``identical`` names outside
``parity.py`` (the reference's builder surface, which stays DataFrame
code).
"""

from __future__ import annotations

import collections
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from check_correctness import TABLES  # noqa: E402
from dump_plans import normalized_plan  # noqa: E402

_TABLE_REF = re.compile(r"(?i)\b(FROM|JOIN)(\s+)(%s)\b" % "|".join(TABLES))
_EXCHANGE = re.compile(r"^\(\d+\) \w*Exchange\b", re.M)


def templated(oracle: str) -> str:
    """The oracle with each table it reads written as a ``{table}``
    placeholder and literal braces doubled, the ``sql_query`` text form.
    Table references follow ``FROM`` or ``JOIN``; no oracle reads a table
    through a comma list or names a CTE after one."""
    text = oracle.replace("{", "{{").replace("}", "}}")
    return _TABLE_REF.sub(r"\1\2{\3}", text)


def census(spark, sf_dir: str, fn, oracle: str) -> str:
    from pyspark.errors import PySparkException

    from spark_query_engine.queries import load

    text = templated(oracle)
    tables = {m.group(3) for m in _TABLE_REF.finditer(oracle)}
    try:
        sdf = spark.sql(text, **{t: load(spark, sf_dir, t) for t in tables})
        sql_plan = normalized_plan(spark, sdf)
    except PySparkException:
        return "no_parse"
    bdf = fn(spark, sf_dir)
    kinds = [(f.name, f.dataType) for f in bdf.schema]
    if kinds != [(f.name, f.dataType) for f in sdf.schema]:
        return "schema_diff"
    builder_plan = normalized_plan(spark, bdf)
    if builder_plan == sql_plan:
        return "identical"
    n_b, n_s = len(_EXCHANGE.findall(builder_plan)), len(_EXCHANGE.findall(sql_plan))
    return f"same_schema {n_b} {n_s}"


def main() -> int:
    sf_dir = sys.argv[1]
    from pyspark.logger import PySparkLogger

    from spark_query_engine import queries as registry
    from spark_query_engine.session import get_session

    spark = get_session("sql_census")
    # a ``no_parse`` is a finding, not an error: keep PySpark from
    # logging each one's JVM stack trace
    PySparkLogger.getLogger("SQLQueryContextLogger").disabled = True
    registry.queries()
    counts: collections.Counter[str] = collections.Counter()
    identical = []
    for q in registry.REGISTRY.values():
        if q.oracle is None or hasattr(q.fn, "__wrapped__"):
            continue
        module = q.fn.__module__.rsplit(".", 1)[-1]
        status = census(spark, sf_dir, q.fn, q.oracle)
        spark.catalog.clearCache()
        print(f"{module} {q.name} {status}", flush=True)
        counts[status.split()[0]] += 1
        if status == "identical" and module != "parity":
            identical.append(q.name)
    print(" ".join(f"{k}={v}" for k, v in sorted(counts.items())))
    print(f"identical outside parity.py: {len(identical)} {' '.join(identical)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
