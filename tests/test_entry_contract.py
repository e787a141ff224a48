"""Driver-contract test: __spark_entry__ exposes entry/queries/
oracle_sql with consistent keys, and every query runs at sf0.001."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

import __spark_entry__ as E  # noqa: E402


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0


def test_registry_shape():
    qs, osql = E.queries(), E.oracle_sql()
    assert len(qs) >= 40
    assert set(osql) <= set(qs)
    # every non-oracled query is a deliberate rows-only exception
    assert set(qs) - set(osql) == {"agg_approx_distinct"}


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _temp_functions(spark) -> set[str]:
    return {f.name for f in spark.catalog.listFunctions() if f.isTemporary}


def test_every_query_runs_at_smoke_sf(spark, sf_dir):
    """Every query builds and runs, and none leaves a named temp view
    or temporary function in the caller's session (a query must not
    shadow or replace a view or function of the caller's)."""
    views, functions = _temp_views(spark), _temp_functions(spark)
    failures = []
    for name, fn in E.queries().items():
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            failures.append((name, str(e)[:200]))
    assert not failures, failures
    assert _temp_views(spark) == views
    assert _temp_functions(spark) == functions


def test_every_sql_query_matches_its_oracle(spark, sf_dir):
    """A ``sql_query`` runs its oracle's own text on Spark, so its
    result must equal DuckDB's for the same text, compared as the
    correctness sweep compares (signbit-strict)."""
    from check_correctness import compare, connect

    from spark_query_engine.queries import REGISTRY

    E.queries()
    con = connect(sf_dir)
    names = [n for n, q in REGISTRY.items() if hasattr(q.fn, "__wrapped__")]
    assert names
    failures = []
    for name in names:
        q = REGISTRY[name]
        ok, msg = compare(q.fn(spark, sf_dir).toPandas(), con.sql(q.oracle).df())
        if not ok:
            failures.append((name, msg))
    assert not failures, failures


def test_driver_window_prioritizes_unverified_families():
    """The driver's CORRECTNESS gate checks only a ~50-entry registry
    prefix, so ordering is verification coverage: every name WITHOUT a
    green row in a committed CORRECTNESS_r*.json must register before
    every name WITH one, and the unverified prefix must round-robin
    across families so every family lands representatives inside the
    window. Guards against a new query family silently shipping with
    zero driver verification (the r01 mistake)."""
    from spark_query_engine.queries import (
        REGISTRY,
        _REPIN_REWRITTEN,
        _driver_verified,
        _ensure_loaded,
        _family_rank,
    )

    _ensure_loaded()
    names = list(REGISTRY)
    # re-pinned rewrites count as unverified: their committed driver
    # evidence predates the code now running (round-4 verdict task 4)
    verified = _driver_verified() - set(_REPIN_REWRITTEN)
    flags = [n in verified for n in names]
    # all unverified come before all verified
    if True in flags and False in flags:
        assert flags.index(True) > max(
            i for i, f in enumerate(flags) if not f
        ), "a verified query registered before an unverified one"
    unv = [n for n, f in zip(names, flags) if not f]
    # Two-phase policy: every KNOWN family (the pre-round-3 backlog)
    # with an unverified query has a representative in the window;
    # modules outside _MODULE_PRIORITY (this round's additions) queue
    # BEHIND that backlog so new work cannot displace the older
    # never-driver-checked queries from the ~50-entry window.
    from spark_query_engine.queries import _MODULE_PRIORITY

    known_rank = len(_MODULE_PRIORITY)
    fams = {_family_rank(n) for n in unv if _family_rank(n) < known_rank}
    missing = fams - {_family_rank(n) for n in unv[:50]}
    assert not missing, f"families with no query in the driver window: {missing}"
    # no unknown-family (new-module) query registers before any
    # known-family unverified query (re-pinned rewrites are front-
    # pinned by design and excluded)
    pinned = set(_REPIN_REWRITTEN)
    ranks = [_family_rank(n) for n in unv if n not in pinned]
    if any(r >= known_rank for r in ranks) and any(r < known_rank for r in ranks):
        first_new = ranks.index(next(r for r in ranks if r >= known_rank))
        last_old = max(i for i, r in enumerate(ranks) if r < known_rank)
        assert first_new > last_old, (
            "a new-module query registered before the older unverified backlog"
        )
    # within the known-family phase, no family repeats before all
    # appear once (round-robin fairness)
    tail = [
        n for n in unv
        if n not in pinned and _family_rank(n) < known_rank
    ]
    tail_fams = {_family_rank(n) for n in tail}
    first_cycle = [_family_rank(n) for n in tail[: len(tail_fams)]]
    assert len(set(first_cycle)) == len(tail_fams), (
        "round-robin first cycle does not cover every known family"
    )
