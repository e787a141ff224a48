"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at a given scale dir, then compares row count, schema (column
names), and an order-insensitive value comparison (columns sorted by
name, rows sorted by all values). Prints one line per query.

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    """Column-name-sorted, row-sorted pandas frame with hashable cells.

    Representation (not kind) is unified to mirror the driver's hash,
    which r01 shows is width/representation-insensitive but KIND-
    sensitive: int32 vs int64 and date-object vs datetime64 both
    hashed equal (window_topk_per_group, scalar_date_funcs were
    driver-green with those skews), while int vs float failed
    (scalar_math_funcs, 28 != 28.0). So: integer widths -> int64,
    float32 -> float64, dates -> datetime64[ns] — all value-preserving
    — and any remaining dtype mismatch is a FAILURE in compare()."""
    import datetime

    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        # The DRIVER's canonicalizer dies on list-typed cells
        # (TypeError: unhashable type: 'list' — the r2
        # corpus_multimodal_features red row). The local mirror must
        # predict that, not paper over it: any array/list cell is a
        # hard failure here. Queries must emit long form or serialize
        # (to_json / array_join) before registering.
        if df[c].dtype == object:
            nonnull_any = df[c].dropna()
            if any(
                isinstance(v, (list, tuple))
                or (hasattr(v, "tolist") and not isinstance(v, (str, bytes)))
                for v in nonnull_any
            ):
                raise TypeError(
                    f"column {c!r} holds array-typed cells — the driver's "
                    "canonicalizer cannot hash these (unhashable type: "
                    "'list'); emit long form or serialize with "
                    "to_json/array_join"
                )
            nonnull = df[c].dropna()
            if len(nonnull) and all(
                isinstance(v, datetime.date) and not isinstance(v, datetime.datetime)
                for v in nonnull
            ):
                df[c] = pd.to_datetime(df[c])
        kind = df[c].dtype.kind
        if kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "f" and df[c].dtype != "float64":
            df[c] = df[c].astype("float64")
        if str(df[c].dtype).startswith("datetime64"):
            # unify resolution (Arrow gives us/ns depending on source) —
            # value-preserving, so this cannot mask a driver hash mismatch
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_pdf, duck_pdf) -> tuple[bool, str]:
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return False, f"schema: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return False, f"rows: spark={len(spark_pdf)} duck={len(duck_pdf)}"
    try:
        a, b = normalize(spark_pdf), normalize(duck_pdf)
    except TypeError as e:  # array-typed cells: fail like the driver
        return False, str(e)
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver hashes TYPED values (28 != 28.0): a dtype mismatch
        # between the Spark and DuckDB frames is a failure here too —
        # never coerce, or the local gate passes what the driver fails.
        if av.dtype != bv.dtype:
            return False, f"col {c}: dtype spark={av.dtype} duck={bv.dtype}"
        try:
            import pandas.testing as pt

            pt.assert_series_equal(av, bv, check_names=False, check_exact=True)
        except Exception as e:
            return False, f"col {c}: {str(e).splitlines()[0] if str(e) else type(e).__name__}"
        # The driver hashes BIT PATTERNS, so IEEE -0.0 != +0.0 there
        # even though == (and assert_series_equal) calls them equal —
        # the two-round vec_covariance_matrix red row. Mirror that:
        # any signbit skew on a float column is a failure here.
        if av.dtype.kind == "f":
            import numpy as np

            sa, sb = np.signbit(av.to_numpy()), np.signbit(bv.to_numpy())
            ok_mask = np.isnan(av.to_numpy()) | (sa == sb)
            if not ok_mask.all():
                i = int(np.argmin(ok_mask))
                return False, (
                    f"col {c}: signed-zero/signbit skew at row {i} "
                    f"(spark={av.iloc[i]!r} signbit={bool(sa[i])}, "
                    f"duck={bv.iloc[i]!r} signbit={bool(sb[i])})"
                )
    return True, "ok"


def connect(sf_dir: str):
    """A DuckDB connection with a view per testdata table, named as
    the oracle texts name them."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from spark_query_engine import queries as registry
    from spark_query_engine.session import get_session

    spark = get_session("correctness_check")

    con = connect(sf_dir)
    qs = registry.queries()
    oracles = registry.oracle_sql()
    n_pass = n_fail = n_skip = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        finally:
            # drop query-level persists (shingle/signature/gram caches)
            # so a 200-query sweep doesn't accumulate cached partitions
            # — the same isolation bench.py applies between queries
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
            n_skip += 1
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            n_fail += 1
            continue
        ok, msg = compare(spark_pdf, duck_pdf)
        status = "PASS" if ok else "FAIL"
        if ok:
            n_pass += 1
        else:
            n_fail += 1
        print(f"{status} {name}: {msg} ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
