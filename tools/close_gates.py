#!/usr/bin/env python
"""End-of-round close protocol — the un-skippable gate.

Round 4 shipped a red pytest and a red correctness row because both
were introduced by commits AFTER the last full gate run. This tool is
the fix: run it after the LAST registry/HEADLINE/test edit of the
round, and only commit the close when it prints ALL GATES GREEN.

Gates, in order (fail-fast):
  0. DECIMAL(38,0) moment-widening static check (MOMENT_ALLOWLIST
     + the r12 HOF-lambda twin, HOF_MOMENT_ALLOWLIST)
  1. full pytest suite (``python -m pytest tests/ -q``)
  2. the sf0.01 oracle sweep over EVERY registered query
     (``tools/check_correctness.py`` — the driver's local mirror)
  3. registry/docs consistency: COVERAGE.md's stated query count
     equals ``len(queries())``; every bench.HEADLINE name is
     registered; every query has an oracle or is on the documented
     rows-only list.
  4. plan audit (one walk, two invariants): no registered query's
     optimized plan carries an unpartitioned Window node unless its
     support is bounded and allowlisted (GLOBAL_WINDOW_ALLOWLIST),
     and no Generate fan-out feeds straight off an unshuffled file
     scan unless adjudicated (SCAN_FANOUT_ALLOWLIST — the SCALING.md
     11c split-count-inheritance defect class).

Usage:  python tools/close_gates.py [sf_dir]
Exit status 0 only if every gate passes.
"""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

#: queries registered without an oracle on purpose (driver records a
#: rows-only check; the judge sees which) — keep in sync with VERDICT
ROWS_ONLY_OK = {"agg_approx_distinct"}


def gate_registry_docs() -> list[str]:
    from spark_query_engine.queries import oracle_sql, queries

    errs: list[str] = []
    qs = queries()
    oracles = oracle_sql()

    missing_oracle = sorted(set(qs) - set(oracles) - ROWS_ONLY_OK)
    if missing_oracle:
        errs.append(f"queries with no oracle and not rows-only-listed: {missing_oracle}")

    from bench import HEADLINE

    unreg = sorted(set(HEADLINE) - set(qs))
    if unreg:
        errs.append(f"bench.HEADLINE names not in registry: {unreg}")

    cov = (ROOT / "COVERAGE.md").read_text()
    m = re.search(r"(\d+)\s+`queries\(\)`\s+entries", cov)
    if m is None:
        errs.append("COVERAGE.md has no 'N `queries()` entries' count line")
    elif int(m.group(1)) != len(qs):
        errs.append(
            f"COVERAGE.md says {m.group(1)} queries but registry has {len(qs)}"
        )

    # r9: the exponent-row completeness claim is mechanical too —
    # every query at or above the heavyweight threshold in the
    # committed bench record must be mentioned in SCALING.md (its
    # exponent row or a named adjudication). The r9 completeness grep
    # caught two stragglers at the boundary; this keeps the table
    # complete as bench times move.
    #
    # r10 (r9 verdict task 1): the threshold is CANARY-RELATIVE —
    # the driver's bench run overwrites BENCH_FULL.json after every
    # round, and its slower-ambient box pushed three sub-1.5 s
    # queries over a fixed threshold with zero code change. The
    # record's own canary_factor (r1_subset_total / R1_CANARY_BASE,
    # the untouched-since-r1 subset measuring the box, never the
    # code) scales the bar: a query is "heavy" only if it would be
    # >= 1.5 s at canonical ambient. Never scaled DOWN below 1.5 —
    # a fast box must not demand rows the committed table was never
    # asked for.
    import json as _json

    bench_path = ROOT / "BENCH_FULL.json"
    if bench_path.exists():
        try:
            bench = _json.loads(bench_path.read_text())
        except Exception:
            bench = {}
        from bench import R1_CANARY_BASE

        factor = bench.get("canary_factor") or (
            bench.get("r1_subset_total", 0) / R1_CANARY_BASE
            if bench.get("r1_subset_total")
            else 1.0
        )
        thresh = 1.5 * max(1.0, factor)
        scaling = (ROOT / "SCALING.md").read_text()
        heavy_missing = sorted(
            q
            for q, sec in bench.get("queries", {}).items()
            if sec >= thresh and q not in scaling
        )
        if heavy_missing:
            errs.append(
                f"queries >={thresh:.2f}s (1.5s x canary {factor:.3f}) in "
                f"BENCH_FULL.json with no SCALING.md "
                f"mention (exponent row needed): {heavy_missing}"
            )

    # r9 (r8 verdict task 7): every "N-entry ... allowlist" mention in
    # the docs must match len(GLOBAL_WINDOW_ALLOWLIST) — the r8 prose
    # said 18 while the gate held 17; count drift is now mechanical.
    for doc in ("SCALING.md", "COVERAGE.md", "SURVEY.md"):
        p = ROOT / doc
        if not p.exists():
            continue
        for m in re.finditer(r"(\d+)-entry[^.]{0,80}allowlist", p.read_text()):
            if int(m.group(1)) != len(GLOBAL_WINDOW_ALLOWLIST):
                errs.append(
                    f"{doc} says '{m.group(0)}' but GLOBAL_WINDOW_ALLOWLIST "
                    f"has {len(GLOBAL_WINDOW_ALLOWLIST)} entries"
                )
    return errs


#: Raw `F.sum(F.col(a) * F.col(b))` product sums (Spark side only —
#: DuckDB oracle SQL auto-widens integer SUMs to HUGEINT, so SQL
#: `SUM(a * b)` needs no gate)
#: that are ALLOWED to stay unwidened, each with the range argument
#: that bounds them below int64 at 100 TB. Everything else must cast
#: an OPERAND to decimal(38,0) (Spark) — a BIGINT*BIGINT multiply or
#: a BIGINT sum accumulator hits the r5g ANSI abort at scale before
#: any post-hoc cast can widen it. Keyed by (file, matched text).
MOMENT_ALLOWLIST: dict[tuple[str, str], str] = {
    ("queries/extended.py", 'F.sum(F.col("l_extendedprice") * F.col("l_discount"))'):
        "TPC-H decimal columns — Spark widens decimal products itself",
    ("queries/training.py", 'F.sum(F.col("f") * F.col("n_t"))'):
        "fertility numerator <= total_tokens * max_tokens_per_word "
        "(~2.5e13 * 50 = 1.3e15 at 100 TB) < 2^63",
    ("queries/training.py", 'F.sum(F.col("x") * F.col("y"))'):
        "degree-powerlaw log-log regression over O(64) degree buckets "
        "of 1e6-quantized logs: sum <= 64 * (3e7)^2 ~ 6e16 < 2^63",
    ("queries/training.py", 'F.sum(F.col("x") * F.col("x"))'):
        "see x*y row — same O(buckets) relation",
    ("queries/training.py", 'F.sum(F.col("y") * F.col("y"))'):
        "see x*y row — same O(buckets) relation",
    ("queries/training.py", 'F.sum(F.col("cl") * F.col("ce_below"))'):
        "Mann-Whitney wins <= n0*n1 <= (1e9)^2/4 ~ 2.5e17 < 2^63",
    ("queries/training.py", 'F.sum(F.col("cl") * F.col("ce"))'):
        "Mann-Whitney ties — bounded by the wins bound above",
    ("queries/training.py", 'F.sum(F.col("r_x") * F.col("r_x"))'):
        "Spearman over DAILY aggregates: ranks <= ~3650",
    ("queries/training.py", 'F.sum(F.col("r_y") * F.col("r_y"))'):
        "Spearman daily — see r_x row",
    ("queries/training.py", 'F.sum(F.col("r_x") * F.col("r_y"))'):
        "Spearman daily — see r_x row",
    ("queries/events.py", 'F.sum(F.col("value") * F.col("dur_us"))'):
        "DOUBLE operand (time-weighted average) — decimal cast would "
        "change the value; float path is deliberate here",
    # (r11: the PCA projection's xq*va / xq*vb F.sum moments were
    # replaced by per-row zip_with/aggregate folds — same 6e13
    # dimension-bounded products, now outside this gate's F.sum
    # pattern; their bound is documented at the fold site.)
    ("queries/training.py", 'F.sum(F.col("w") * F.col("cents"))'):
        "Poisson bootstrap replicate sums: weight <= ~8 (Poisson(1) "
        "tail) x price cents <= 6e7 -> ~5e8/row, x1e9 rows = 5e17 "
        "< 2^63; decimal in the xB-fanned hot path measured +37%",
}


def gate_moment_widening() -> list[str]:
    """The r5g DECIMAL(38,0) range rule, enforced statically: any
    `F.sum(<col> * <col>)`-shaped product sum in the query/operator
    sources must widen an operand to decimal(38,0) or carry an
    explicit range-bound entry in MOMENT_ALLOWLIST. A future moment
    query that forgets the widening turns this gate red."""
    # [A-Za-z0-9_]: digit-bearing column names (s1, n11) must not
    # slip past the gate (ADVICE r6)
    pat = re.compile(
        r'F\.sum\(\s*F\.col\("[A-Za-z0-9_]+"\)\s*\*\s*F\.col\("[A-Za-z0-9_]+"\)\s*\)'
    )
    errs: list[str] = []
    pkg = ROOT / "spark_query_engine"
    for p in sorted(pkg.rglob("*.py")):
        rel = str(p.relative_to(pkg))
        text = p.read_text()
        for m in pat.finditer(text):
            snippet = re.sub(r"\s+", " ", m.group(0))
            if (rel, snippet) not in MOMENT_ALLOWLIST:
                line = text[: m.start()].count("\n") + 1
                errs.append(
                    f"{rel}:{line}: unwidened BIGINT moment product "
                    f"`{snippet}` — cast an operand to decimal(38,0) "
                    "or add a range-bound MOMENT_ALLOWLIST entry"
                )
    # stale allowlist entries rot silently — flag them too
    for (rel, snippet), _why in MOMENT_ALLOWLIST.items():
        p = pkg / rel
        if not p.exists() or snippet not in re.sub(r"\s+", " ", p.read_text()):
            errs.append(f"stale MOMENT_ALLOWLIST entry: {rel} `{snippet}`")
    return errs


#: Queries whose optimized plan carries an unpartitioned Window node
#: ON PURPOSE — each window runs over a BOUNDED relation (audited r7,
#: re-audited r8 with the mechanical plan walk), never row-scale.
#: Everything else in the registry must have zero unpartitioned
#: Window/WindowGroupLimit nodes (r7 verdict task 5: the
#: window_ntile_cume single-partition global sort class).
GLOBAL_WINDOW_ALLOWLIST: dict[str, str] = {
    "window_ntile_cume": "offsets running-sum over the P-row "
        "per-sort-partition count relation (P = parallelism)",
    # r9: global_rank's partition-offset prefix sum became a relation
    # (no per-call driver collect) — a running-sum window over the
    # p-row count aggregate, p ≤ max(parallelism, 4·parallelism):
    # bounded by CLUSTER, not data (operators/linkage.py:global_rank).
    # Only the consumer below exposes that window to THIS walk — the
    # other global_rank callers (pipeline_entity_resolution,
    # linkage_sorted_neighborhood, linkage_fellegi_sunter,
    # stats_psi_drift) persist/checkpoint the ranked relation, so
    # their OPTIMIZED LOGICAL plan shows an InMemoryRelation/RDD-scan
    # boundary instead (the physical-plan walk in
    # tests/test_plans.py::test_headline_plans_have_no_scale_killers
    # sees through the cache and allowlists them there).
    "corpus_quantile_normalize": "global_rank offsets running-sum "
        "over the p-row partition counts (p ≤ 4·parallelism — "
        "cluster-bounded, never data-bounded)",
    "events_seasonal_decompose": "moving-average/cum windows on the "
        "bounded O(days) daily aggregate",
    "stats_qini_uplift": "cumulative gain over the bounded O(|score "
        "buckets|) ranked relation",
    "ann_hybrid_search": "RRF ranks over two top-K candidate lists "
        "(K fixed)",
    "text_zipf_fit": "log-log rank regression over the top-200 vocab "
        "prefix",
    "corpus_vocab_coverage": "ranked prefix over the top-k vocab "
        "(k <= 25)",
    "events_path_topk": "top-5 rank over the |event types|^3 path "
        "relation",
    "corpus_source_mix": "cum-share windows over the (source, lang) "
        "cell aggregate",
    "corpus_curate_full": "rank over per-bucket quality aggregates "
        "(bounded cells)",
    "corpus_temperature_sample": "share windows over the per-source "
        "aggregate",
    "data_skew_report": "top-5 heavy-hitter rank over the key-count "
        "aggregate",
    # (corpus_kmeanspp_init left this list in r8: its weighted top-k
    # over the 1 + rounds*l candidates now ranks driver-side — the
    # fit-constant job merge — so the plan has no Window at all.)
    "stats_poisson_bootstrap": "quantile rank over the B-row "
        "replicate relation (B = 32)",
    "stats_ks_drift": "ECDF cumsums over the DISTINCT-value support "
        "of discretized scores",
    "stats_auc_mannwhitney": "rank-sum over the bounded distinct-"
        "value support (KS pattern)",
    "stats_spearman_daily": "midranks over DAILY aggregates "
        "(O(days) rows)",
    "data_compaction_plan": "bin-packing prefix sums over the "
        "catalog relation",
    "events_survival_km": "KM product chain over the O(days) risk "
        "table",
}


#: Generate-over-unshuffled-scan sites adjudicated FINE (r11 fan-out
#: audit, SCALING.md 11e): the fan-out is either over a ≤1-row side
#: (the query-document token explode in ann_hybrid_search /
#: text_bm25_search, broadcast immediately after) or a trivial ×salt
#: row copy on the small join side that the join's own shuffle
#: redistributes (join_salted_skew). Values are per-query counts so a
#: NEW unguarded fan-out in an allowlisted query still trips the gate.
SCAN_FANOUT_ALLOWLIST = {
    "ann_hybrid_search": 1,
    "join_salted_skew": 1,
    "text_bm25_search": 1,
}


#: r12 (advisor row 3): products inside higher-order-function lambdas
#: (transform/zip_with/aggregate bodies) are structurally invisible to
#: gate_moment_widening's F.sum pattern — this is their allowlist.
#: Key: (file, "line-text product snippet"); value: why the product
#: cannot overflow (double arithmetic, or a documented integer bound).
HOF_MOMENT_ALLOWLIST: dict[tuple[str, str], str] = {
    ("operators/dedup.py", "x * y"):
        "cosine dot fold — DOUBLE arithmetic (0.0 accumulator)",
    ("operators/dedup.py", "v * v"):
        "cosine norm folds — DOUBLE arithmetic",
    ("operators/dedup.py", "na * nb"):
        "product of two DOUBLE norms",
    ("operators/similarity.py", "x * y"):
        "LSH plane dot folds — DOUBLE arithmetic (0.0 accumulator)",
    ("operators/similarity.py", "s * w"):
        "CP band bucket key: ±1 sign x 2^i weight, |sum| < 2^per "
        "with per <= 32 planes/band — far below 2^63",
    ("operators/similarity.py", "x * w"):
        "CP rotation-projection dots — DOUBLE arithmetic",
    ("operators/clustering.py", "x * y"):
        "covariance tri product — BIGINT by design; bound |xq| < 3e9 "
        "ENFORCED at runtime (r12 max|xq| guard in the output "
        "projection; ANSI additionally aborts the multiply itself)",
    ("queries/extended.py", "x * x"):
        "l2 norm fold — DOUBLE arithmetic",
    ("queries/semantic.py", "x * a"):
        "PCA projection moment: xq = floor(x*1e6) <= ~3e7 x int basis "
        "<= 1e6 -> per-term <= 3e13, x 64 dims < 2.5e15 < 2^63 "
        "(bound documented at the fold site)",
    ("queries/similarity.py", "x * x"):
        "norm fold over explicitly double-cast elements",
}


def gate_hof_moment_widening() -> list[str]:
    """The r5g rule extended to higher-order-function lambda bodies
    (advisor r11 row 3): a product of two bare names inside (or just
    below) a ``lambda`` — the shape of the covariance tri product and
    the PCA projection folds — must either be double arithmetic or
    carry a range-bound HOF_MOMENT_ALLOWLIST entry. Heuristic scope:
    a line matching ``name * name`` (neither operand a call or an
    ``F.``-built Column) counts when ``lambda`` appears on that line
    or within the four lines above it — the multi-line HOF bodies
    this codebase writes."""
    pat = re.compile(r"\b([a-z]\w*)\s*\*\s*([a-z]\w*)\b(?!\s*\()")
    errs: list[str] = []
    pkg = ROOT / "spark_query_engine"
    seen: set[tuple[str, str]] = set()
    for p in sorted(pkg.rglob("*.py")):
        rel = str(p.relative_to(pkg))
        lines = p.read_text().splitlines()
        for idx, line in enumerate(lines):
            if line.lstrip().startswith("#"):
                continue
            ctx = " ".join(
                ln.split("#")[0] for ln in lines[max(0, idx - 4): idx + 1]
            )
            if "lambda" not in ctx:
                continue
            for m in pat.finditer(line.split("#")[0]):
                snippet = re.sub(r"\s+", " ", m.group(0))
                key = (rel, snippet)
                seen.add(key)
                if key not in HOF_MOMENT_ALLOWLIST:
                    errs.append(
                        f"{rel}:{idx + 1}: HOF-lambda product "
                        f"`{snippet}` — prove the range (double math "
                        "or documented integer bound) and add a "
                        "HOF_MOMENT_ALLOWLIST entry"
                    )
    for key, _why in HOF_MOMENT_ALLOWLIST.items():
        if key not in seen:
            errs.append(
                f"stale HOF_MOMENT_ALLOWLIST entry: {key[0]} `{key[1]}`"
            )
    return errs


def gate_global_windows(sf_dir: str = "/root/testdata/sf0.001") -> list[str]:
    """Walk every registered query's OPTIMIZED logical plan (toJSON —
    no execution beyond the model-state fits query construction
    already runs) and flag (a) any unpartitioned Window/
    WindowGroupLimit node on a query without a bounded-support
    allowlist entry, and (b) any Generate (explode fan-out) whose
    input comes straight off a file scan with no shuffle in between —
    the SCALING.md 11c split-count-inheritance defect (amplified
    per-row work serialized onto however many splits the parquet
    footer bin-packed; the standing ``widen`` guard is the fix) —
    unless allowlisted with its adjudicated site count. Stale
    allowlist entries (query gone, or condition no longer present)
    are flagged too, so neither list can rot."""
    import json as _json

    from fanout_audit import build_tree, count_scan_fanouts

    from spark_query_engine.queries import queries
    from spark_query_engine.session import get_session

    spark = get_session("plan-gate")
    errs: list[str] = []
    seen_unpart: set[str] = set()
    seen_fanout: dict[str, int] = {}
    for name, fn in queries().items():
        try:
            df = fn(spark, sf_dir)
            nodes = _json.loads(
                df._jdf.queryExecution().optimizedPlan().toJSON()
            )
        except Exception as e:  # construction failure is its own error
            errs.append(f"{name}: plan walk failed: {e!r:.120}")
            continue
        finally:
            spark.catalog.clearCache()
        n_unpart = sum(
            1
            for nd in nodes
            if nd.get("class", "").endswith((".Window", ".WindowGroupLimit"))
            and not nd.get("partitionSpec")
        )
        if n_unpart:
            seen_unpart.add(name)
            if name not in GLOBAL_WINDOW_ALLOWLIST:
                errs.append(
                    f"{name}: {n_unpart} unpartitioned Window node(s) and "
                    "no bounded-support GLOBAL_WINDOW_ALLOWLIST entry"
                )
        root, _ = build_tree(nodes)
        n_fan = count_scan_fanouts(root)
        if n_fan:
            seen_fanout[name] = n_fan
            if n_fan > SCAN_FANOUT_ALLOWLIST.get(name, 0):
                errs.append(
                    f"{name}: {n_fan} Generate-over-unshuffled-scan "
                    f"site(s) (allowlisted "
                    f"{SCAN_FANOUT_ALLOWLIST.get(name, 0)}) — per-row "
                    "fan-out inherits scan split count; add the widen "
                    "guard or adjudicate in SCAN_FANOUT_ALLOWLIST"
                )
    for name in GLOBAL_WINDOW_ALLOWLIST:
        if name not in seen_unpart:
            errs.append(
                f"stale GLOBAL_WINDOW_ALLOWLIST entry: {name} has no "
                "unpartitioned window (or left the registry)"
            )
    for name, n_allowed in SCAN_FANOUT_ALLOWLIST.items():
        if seen_fanout.get(name, 0) != n_allowed:
            errs.append(
                f"stale SCAN_FANOUT_ALLOWLIST entry: {name} has "
                f"{seen_fanout.get(name, 0)} unshuffled-scan fan-out "
                f"site(s), allowlist says {n_allowed}"
            )
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    print("== gate 0/5: DECIMAL(38,0) moment-widening static check ==",
          flush=True)
    errs = gate_moment_widening() + gate_hof_moment_widening()
    if errs:
        for e in errs:
            print(" -", e)
        print("CLOSE GATE RED: unwidened moment products")
        return 1

    print("== gate 1/5: pytest ==", flush=True)
    r = subprocess.run([sys.executable, "-m", "pytest", "tests/", "-q"], cwd=ROOT)
    if r.returncode != 0:
        print("CLOSE GATE RED: pytest failed")
        return 1

    print("== gate 2/5: sf0.01 oracle sweep ==", flush=True)
    r = subprocess.run(
        [sys.executable, "tools/check_correctness.py", sf_dir], cwd=ROOT
    )
    if r.returncode != 0:
        print("CLOSE GATE RED: correctness sweep failed")
        return 1

    print("== gate 3/5: registry/docs consistency ==", flush=True)
    errs = gate_registry_docs()
    if errs:
        for e in errs:
            print(" -", e)
        print("CLOSE GATE RED: registry/docs inconsistent")
        return 1

    print("== gate 4/5: global-window plan audit ==", flush=True)
    errs = gate_global_windows()
    if errs:
        for e in errs:
            print(" -", e)
        print("CLOSE GATE RED: unpartitioned row-scale window plans")
        return 1

    print("ALL GATES GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
