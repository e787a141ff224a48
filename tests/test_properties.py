"""Property-based tests (hypothesis): distributed operators vs pure-
Python reference implementations on randomized inputs.

Beyond the reference's test strategy (SURVEY.md §5: 14 example-based
unit tests, no property tests): each property drives the REAL Spark
operator — shuffles, joins, iterations and all — and asserts exact
agreement with an obviously-correct sequential model, over inputs a
human wouldn't write down (hub graphs, adversarial token repeats,
zero-length docs). derandomized + bounded examples so CI is
deterministic and Spark-job cost stays sane.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    """Large-star/small-star components must equal a sequential
    union-find with min-id labels, on any graph shape: chains, hubs,
    self-loops, parallel edges."""
    from spark_query_engine.operators.dedup import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs, max_iter=25).collect()
    }
    assert got == expected


def test_connected_components_star_long_chain(spark):
    """The adversarial shape min-label propagation degrades on: a
    64-node path (diameter 63). Star contraction must label it in far
    fewer rounds than the diameter — asserted via max_iter=12 ≪ 63."""
    from spark_query_engine.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs, max_iter=12).collect()
    }
    assert got == {i: 0 for i in range(64)}


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "dd", "e"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_repetition_metrics_match_counter(spark, docs):
    """The two-shuffle n-gram aggregation must reproduce a per-doc
    Counter over unigrams/bigrams/trigrams exactly — including the
    adversarial all-same-token and shorter-than-n documents."""
    from spark_query_engine.operators.textanalysis import repetition_metrics

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["id"]: r for r in repetition_metrics(df, "doc_id", "text").collect()}

    for i, words in enumerate(docs):
        uni = Counter(words)
        bi = Counter(
            " ".join(words[j : j + 2]) for j in range(len(words) - 1)
        )
        tri = Counter(
            " ".join(words[j : j + 3]) for j in range(len(words) - 2)
        )
        r = got[i]
        assert r["n_tokens"] == len(words)
        assert r["top_unigram_count"] == max(uni.values())
        assert r["top_bigram_count"] == (max(bi.values()) if bi else None)
        dup3 = sum(c for c in tri.values() if c >= 2)
        assert r["dup_trigram_tokens"] == dup3
        assert r["top_unigram_frac"] == round(
            max(uni.values()) / len(words), 6
        )


@given(
    chars=st.lists(st.integers(0, 5000), min_size=1, max_size=40),
    budget=st.sampled_from([64, 256, 2048]),
)
@settings(**SETTINGS)
def test_token_packing_matches_sequential_packer(spark, chars, budget):
    """The windowed cumsum packer must assign every doc the chunk a
    sequential greedy packer would — per shard, in doc_id order."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(i, n) for i, n in enumerate(chars)]
    df = spark.createDataFrame(rows, ["doc_id", "n_chars"])
    t = df.select(
        "doc_id",
        (F.col("doc_id") % 4).alias("shard"),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r["doc_id"]: r["chunk_id"]
        for r in t.select(
            "doc_id",
            F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget
            ).alias("chunk_id"),
        ).collect()
    }

    cum: dict[int, int] = {}
    for i, n in enumerate(chars):
        tok = math.ceil(n / 4)
        shard = i % 4
        start = cum.get(shard, 0)
        assert got[i] == start // budget, (i, n, budget)
        cum[shard] = start + tok


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-1.0, 1.0, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_semantic_dedup_matches_quadratic_model(spark, vecs):
    """The cluster-blocked SemDeDup decision must equal the quadratic
    sequential model WITHIN clusters: a doc is pruned iff some
    lower-id member of its own cluster sits at (rounded) cosine ≥
    threshold."""
    import math

    from spark_query_engine.operators import clustering as C

    vecs = [v for v in vecs if any(abs(x) > 1e-3 for x in v)]
    if len(vecs) < 2:
        return
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assigned = C.kmeans_assign(
        spark, df, "vec_id", "embedding", k=min(2, len(rows)), iters=1
    )
    got = {
        r["id"]: (r["centroid"], r["is_kept"])
        for r in C.semantic_dedup(assigned, 0.9).collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 6)

    cluster = {i: got[i][0] for i, _ in rows}
    for i, v in rows:
        expect_kept = not any(
            j < i and cluster[j] == cluster[i] and cos(w, v) >= 0.9
            for j, w in rows
        )
        assert got[i][1] == expect_kept, (i, vecs)


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-2.0, 2.0, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=3,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_pq_encode_matches_sequential_quantizer(spark, vecs):
    """pq_encode must pick, per subspace, exactly the code a
    sequential argmin over 6dp-rounded squared L2 would pick (ties →
    lowest code), with codebooks taken from the first two vectors."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    from pyspark.sql import functions as F

    from spark_query_engine.operators import similarity as S

    df = spark.createDataFrame(rows, ["id", "raw"])
    v = df.select(
        "id", F.transform("raw", lambda x: x.cast("double")).alias("vec")
    )
    sub_dim = 2
    codebooks = [
        [rows[c][1][j * sub_dim : (j + 1) * sub_dim] for c in (0, 1)]
        for j in range(2)
    ]
    got = {r["id"]: list(r["codes"])
           for r in S.pq_encode(v, codebooks, sub_dim).collect()}

    for i, vec in rows:
        for j in range(2):
            s = vec[j * sub_dim : (j + 1) * sub_dim]
            d2s = [
                round(sum((a - b) * (a - b) for a, b in zip(s, c)), 6)
                for c in codebooks[j]
            ]
            expect = d2s.index(min(d2s))
            assert got[i][j] == expect, (i, j, d2s)


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),      # series key
            st.integers(0, 40),     # hour offset
            st.integers(0, 100),    # integer-valued amount (exact floats)
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_gap_fill_locf_matches_sequential(spark, events):
    """Dense-grid LOCF gap filling (sequence/explode grid + left join
    + ignore-nulls window) must equal a sequential per-series walk:
    bucket sums where observed, last value carried through gaps, grid
    exactly [first, last] per series."""
    import datetime
    from collections import defaultdict

    from spark_query_engine.operators.timeseries import gap_fill_locf

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (s, base + datetime.timedelta(hours=h, minutes=7), float(v))
        for s, h, v in events
    ]
    df = spark.createDataFrame(rows, "series int, ts timestamp, value double")
    got = {
        (r["series"], r["bucket"]): (r["observed"], r["value_filled"])
        for r in gap_fill_locf(df, "series", "ts", "value").collect()
    }

    sums: dict[tuple[int, int], float] = defaultdict(float)
    for s, h, v in events:
        sums[(s, h)] += float(v)
    expected = {}
    for s in {s for s, _, _ in events}:
        hours = [h for (s2, h) in sums if s2 == s]
        last = None
        for h in range(min(hours), max(hours) + 1):
            if (s, h) in sums:
                last = round(sums[(s, h)], 2)
                expected[(s, base + datetime.timedelta(hours=h))] = (True, last)
            else:
                expected[(s, base + datetime.timedelta(hours=h))] = (False, last)
    assert got == expected


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), max_size=20),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_span_dup_stats_matches_counter(spark, docs):
    """Span duplication stats (explode + hash agg + equi-join) must
    equal a Counter over k-token chunks: n_chunks counts a document's
    full spans, n_dup_chunks those whose text appears in >=2 distinct
    documents — including repeated occurrences within one document."""
    from spark_query_engine.operators.textanalysis import span_dup_stats

    k = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"])
        for r in span_dup_stats(df, "doc_id", "text", k=k).collect()
    }

    chunks_of = {
        i: [
            " ".join(toks[j * k : (j + 1) * k])
            for j in range(len(toks) // k)
        ]
        for i, toks in enumerate(docs)
    }
    owners: dict[str, set[int]] = {}
    for i, chunks in chunks_of.items():
        for c in chunks:
            owners.setdefault(c, set()).add(i)
    expected = {
        i: (len(chunks), sum(1 for c in chunks if len(owners[c]) > 1))
        for i, chunks in chunks_of.items()
        if chunks
    }
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_pagerank_matches_sequential(spark, edges):
    """Distributed PageRank (per-round join+sum with 9dp-rounded
    state) must track a sequential power iteration on any undirected
    graph — hubs, chains, parallel edges — to within the rounding
    granularity."""
    from collections import defaultdict

    from spark_query_engine.operators.graph import pagerank

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {r["id"]: r["pr"] for r in pagerank(df, iterations=5).collect()}

    sym = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    deg: dict[int, int] = defaultdict(int)
    for u, _ in sym:
        deg[u] += 1
    n = len(deg)
    pr = {u: 1.0 / n for u in deg}
    for _ in range(5):
        acc: dict[int, float] = defaultdict(float)
        for u, v in sym:
            acc[v] += pr[u] / deg[u]
        pr = {v: round(0.15 / n + 0.85 * acc[v], 9) for v in deg}

    assert set(got) == set(pr)
    for u in pr:
        assert abs(got[u] - pr[u]) < 2e-9, (u, got[u], pr[u])
    # mass conservation (up to rounding): ranks sum to ~1
    assert abs(sum(got.values()) - 1.0) < 1e-6 * n


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_bm25_matches_sequential(spark, docs):
    """The distributed BM25 pipeline (token explode → tf/df/dl aggs →
    equi-joins → scored agg) must match a straightforward sequential
    BM25 (k1=1.2, b=0.75, Robertson +1 idf) on arbitrary tiny corpora,
    with doc 0 as the query — scores to 1e-9, ranking exactly."""
    import math
    from collections import Counter

    from spark_query_engine.queries import queries

    import tempfile, os
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("overwrite").parquet(os.path.join(td, "documents.parquet"))
        got = {
            r["id"]: (r["n_hit_terms"], r["score"])
            for r in queries()["text_bm25_search"](spark, td).collect()
        }

    n = len(docs)
    dls = {i: len(toks) for i, toks in enumerate(docs)}
    avgdl = sum(dls.values()) / n
    dfreq = Counter()
    for toks in docs:
        for t in set(toks):
            dfreq[t] += 1
    qterms = set(docs[0])
    want = {}
    for i, toks in enumerate(docs):
        if i == 0:
            continue
        tf = Counter(toks)
        hit = [t for t in tf if t in qterms]
        if not hit:
            continue
        score = sum(
            math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            * tf[t] * 2.2
            / (tf[t] + 1.2 * (0.25 + 0.75 * dls[i] / avgdl))
            for t in sorted(hit)
        )
        want[i] = (len(hit), round(score, 6))
    # top-20 cut: compare the intersection (all docs here, n <= 10)
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], (i, got, want)
        assert abs(got[i][1] - want[i][1]) < 2e-6, (i, got[i], want[i])


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 1),        # event_type index
            st.integers(0, 5000),     # minute offset (can cross days)
            st.integers(0, 50),       # integer value
        ),
        min_size=2,
        max_size=40,
        unique_by=lambda e: (e[0], e[1]),
    )
)
@settings(**SETTINGS)
def test_time_weighted_avg_matches_sequential(spark, events):
    """The registered time-weighted-average query must match a
    sequential walk over arbitrary irregular event sets: per (type,
    day), each value weighted by the µs until its successor, last
    value of each partition carrying no weight."""
    import datetime
    import os
    import tempfile
    from collections import defaultdict

    from spark_query_engine.queries import queries

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=m), i, f"t{k}", float(v), "{}")
        for i, (k, m, v) in enumerate(events)
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).write.mode("overwrite").parquet(os.path.join(td, "events.parquet"))
        got = {
            (r["event_type"], r["bucket"]): (r["n_intervals"], r["twa"])
            for r in queries()["events_time_weighted_avg"](spark, td).collect()
        }

    series = defaultdict(list)
    for i, (k, m, v) in enumerate(events):
        ts = base + datetime.timedelta(minutes=m)
        day = datetime.datetime(ts.year, ts.month, ts.day)
        series[(f"t{k}", day)].append((ts, i, float(v)))
    want = {}
    for key, obs in series.items():
        obs.sort()
        num = den = 0.0
        cnt = 0
        for (t0, _, v), (t1, _, _) in zip(obs, obs[1:]):
            dur = int((t1 - t0).total_seconds() * 1_000_000)
            if dur > 0:
                num += v * dur
                den += dur
                cnt += 1
        if cnt:
            want[key] = (cnt, round(num / den, 4))
    assert got == want


@given(
    orders=st.lists(
        st.tuples(
            st.integers(0, 400),            # order key
            st.sampled_from("OFP"),         # status
            st.integers(100, 9999),         # price (int-valued, exact)
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda o: o[0],
    )
)
@settings(**SETTINGS)
def test_snapshot_diff_matches_dict_model(spark, orders):
    """The snapshot-diff query (full outer key join + row-local
    classification) must match a dict-based sequential diff under the
    same modulus-derived old/new snapshots, for any key set — added,
    removed, modified, unchanged, and the value drift."""
    import datetime
    import os
    import tempfile
    from collections import defaultdict

    from spark_query_engine.queries import queries

    rows = [
        (k, k, st_, float(p), datetime.datetime(2024, 1, 1), "x")
        for k, st_, p in orders
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.mode("overwrite").parquet(os.path.join(td, "orders.parquet"))
        got = {
            r["change_type"]: (r["n_rows"], r["total_drift"])
            for r in queries()["data_snapshot_diff"](spark, td).collect()
        }

    old = {k: (s_, float(p)) for k, s_, p in orders if k % 97 != 3}
    new = {
        k: (s_, float(p) * 1.1 if k % 13 == 0 else float(p))
        for k, s_, p in orders
        if k % 89 != 7
    }
    agg = defaultdict(lambda: [0, 0.0])
    for k in set(old) | set(new):
        if k not in old:
            ct = "added"
        elif k not in new:
            ct = "removed"
        elif old[k] != new[k]:
            ct = "modified"
        else:
            ct = "unchanged"
        drift = abs(new.get(k, (None, 0.0))[1] - old.get(k, (None, 0.0))[1])
        agg[ct][0] += 1
        agg[ct][1] += drift
    want = {ct: (n, round(d, 2)) for ct, (n, d) in agg.items()}
    assert got == want


@given(
    log=st.lists(
        st.tuples(
            st.integers(0, 8),           # key
            st.integers(0, 6),           # version
            st.sampled_from("ABC"),      # attribute value
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: (t[0], t[1]),  # one row per (key, version)
    )
)
@settings(**SETTINGS)
def test_scd2_history_matches_sequential_fold(spark, log):
    """scd2_history (two shared-sort windows over a key-partitioned
    changelog) must agree with the obvious sequential fold: walk each
    key's versions in order, open an interval on every value CHANGE
    (suppressing redeliveries), close it at the next change."""
    from spark_query_engine.operators.maintenance import scd2_history

    df = spark.createDataFrame(
        [(k, v, a) for k, v, a in log], "k long, version long, attr string"
    )
    got = {
        (r["k"], r["valid_from"]): (r["attr"], r["valid_to"], r["is_current"])
        for r in scd2_history(df, "k", "version", "attr").collect()
    }

    expected = {}
    by_key = {}
    for k, v, a in sorted(log):
        by_key.setdefault(k, []).append((v, a))
    for k, rows in by_key.items():
        points = []
        prev = None
        for v, a in rows:  # already version-sorted
            if prev is None or a != prev:
                points.append((v, a))
            prev = a
        for i, (v, a) in enumerate(points):
            nxt = points[i + 1][0] if i + 1 < len(points) else None
            expected[(k, v)] = (a, nxt, nxt is None)

    assert got == expected


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 4),                      # user
            st.integers(0, 1_000_000),              # ts offset seconds
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_attribution_matches_sequential_walk(spark, events):
    """Last-touch attribution (running MAX over a click-only CASE)
    must agree with the obvious per-user walk — including same-second
    click/purchase collisions resolved by event_id order and the
    7-day lookback cutoff."""
    import datetime
    import os
    import tempfile

    from spark_query_engine.queries import queries

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=off), u, et, 1.0, "{}")
        for i, (u, off, et) in enumerate(events)
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string",
        ).write.mode("overwrite").parquet(os.path.join(td, "events.parquet"))
        got = {
            r["purchase_id"]: (r["attributed_click_ts"], r["lag_us"])
            for r in queries()["events_attribution_last_touch"](
                spark, td
            ).collect()
        }

    want = {}
    seven_days_us = 604800000000
    by_user: dict[int, list] = {}
    for i, (u, off, et) in enumerate(events):
        by_user.setdefault(u, []).append((base + datetime.timedelta(seconds=off), i, et))
    for u, evs in by_user.items():
        evs.sort()
        last_click = None
        for ts, i, et in evs:
            if et == "purchase":
                if last_click is not None:
                    lag = int((ts - last_click).total_seconds() * 1_000_000)
                    if lag <= seven_days_us:
                        want[i] = (last_click, lag)
                    else:
                        want[i] = (None, None)
                else:
                    want[i] = (None, None)
            if et == "click":
                last_click = ts
    assert got == want


@given(
    actives=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 20)),  # (user, day)
        min_size=1,
        max_size=50,
    )
)
@settings(**SETTINGS)
def test_rolling_wau_matches_sequential(spark, actives):
    """The 7x contribute-forward formulation of rolling WAU must equal
    the per-day set union over the trailing 7 days, on arbitrary
    sparse activity patterns (gaps, bursts, single-user days)."""
    import datetime
    import os
    import tempfile

    from spark_query_engine.queries import queries

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (i, base + datetime.timedelta(days=day, hours=1), u, "view", 1.0, "{}")
        for i, (u, day) in enumerate(actives)
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string",
        ).write.mode("overwrite").parquet(os.path.join(td, "events.parquet"))
        got = {
            r["day"].isoformat(): (r["dau"], r["wau"])
            for r in queries()["events_rolling_wau"](spark, td).collect()
        }

    by_day: dict[int, set] = {}
    for u, day in actives:
        by_day.setdefault(day, set()).add(u)
    want = {}
    for day, users in by_day.items():
        wau = set()
        for back in range(7):
            wau |= by_day.get(day - back, set())
        want[(base + datetime.timedelta(days=day)).date().isoformat()] = (
            len(users),
            len(wau),
        )
    assert got == want


@given(
    events=st.lists(
        st.tuples(st.integers(0, 3), st.sampled_from("abc")),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_markov_transitions_match_counter(spark, events):
    """The windowed LEAD + normalized count implementation must equal
    a per-user sequential pair counter with row-stochastic checks."""
    import datetime
    import os
    import tempfile
    from collections import Counter, defaultdict

    from spark_query_engine.queries import queries

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=i), u, t, 1.0, "{}")
        for i, (u, t) in enumerate(events)
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string",
        ).write.mode("overwrite").parquet(os.path.join(td, "events.parquet"))
        got = {
            (r["from_type"], r["to_type"]): (r["n_transitions"], r["p"])
            for r in queries()["events_markov_transitions"](spark, td).collect()
        }

    seqs = defaultdict(list)
    for i, (u, t) in enumerate(events):
        seqs[u].append(t)  # event_id order == ts order here
    pairs = Counter()
    for s in seqs.values():
        for a, b in zip(s, s[1:]):
            pairs[(a, b)] += 1
    outdeg = Counter()
    for (a, _b), c in pairs.items():
        outdeg[a] += c
    want = {
        (a, b): (c, round(c / outdeg[a], 6)) for (a, b), c in pairs.items()
    }
    assert got == want


@given(
    members=st.sets(st.integers(0, 500), min_size=1, max_size=40),
    probes=st.sets(st.integers(0, 500), min_size=1, max_size=60),
)
@settings(**SETTINGS)
def test_bloom_filter_matches_set_model(spark, members, probes):
    """The distributed bloom build+probe must agree with a sequential
    bit-set model exactly (same hash family), and can never produce a
    false negative."""
    import hashlib

    from pyspark.sql import functions as F

    m_bits, k = 16384, 3

    def pos(key, i):
        return int(hashlib.md5(f"{key}:{i}".encode()).hexdigest()[:8], 16) % m_bits

    bits = {pos(key, i) for key in members for i in range(k)}
    want = {p: all(pos(p, i) in bits for i in range(k)) for p in probes}

    def spark_pos(col, i):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(col.cast("string"), F.lit(f":{i}"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % m_bits
        )

    mdf = spark.createDataFrame([(x,) for x in members], "k long")
    bdf = mdf.select(
        F.explode(F.array(*[spark_pos(F.col("k"), i) for i in range(k)])).alias(
            "pos"
        )
    ).distinct()
    pdf = spark.createDataFrame([(x,) for x in probes], "k long")
    ppos = pdf.select(
        "k",
        F.explode(F.array(*[spark_pos(F.col("k"), i) for i in range(k)])).alias(
            "pos"
        ),
    )
    hits = ppos.join(bdf, "pos").groupBy("k").count()
    got_pass = {r["k"]: r["count"] == k for r in hits.collect()}
    got = {p: got_pass.get(p, False) for p in probes}
    assert got == want
    for p in probes & members:
        assert got[p], "false negative is structurally impossible"


@given(
    st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=30
    )
)
@settings(max_examples=30, deadline=None, derandomize=True)
def test_cusum_prefix_identity_matches_recursion(xs):
    """The window formulation behind events_cusum_drift: for any
    integer series, y_t - min(0, min_prefix(y)) equals the textbook
    recursion S_t = max(0, S_{t-1} + d_t) (and symmetrically for the
    negative side via the running max)."""
    # n-scaled deviations, exactly as the query builds them
    n, s = len(xs), sum(xs)
    devs = [x * n - s for x in xs]

    sp = sn = 0
    y = 0
    ymin = ymax = 0
    for d in devs:
        sp = max(0, sp + d)
        sn = max(0, sn - d)
        y += d
        ymin = min(ymin, y)
        ymax = max(ymax, y)
        assert sp == y - min(0, ymin)
        assert sn == max(0, ymax) - y


@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=25),
    st.integers(min_value=4, max_value=16),
)
@settings(max_examples=15, deadline=None, derandomize=True)
def test_pack_sequences_matches_sequential_concat_split(spark, toks, context):
    """corpus_pack_sequences' windowed-cumsum formulation vs the
    sequential reference: concatenate docs in id order into one token
    stream, split at context boundaries — every (doc × bin)
    intersection row must match, including docs straddling 2+ bins
    and docs longer than the context window."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    docs = [(i, " ".join(["t"] * n)) for i, n in enumerate(toks)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # distributed: the exact plan shape of corpus_pack_sequences with
    # ONE shard (the per-shard stream is the unit under test)
    w = W.partitionBy(F.lit(0)).orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    t = df.select("doc_id", F.size(F.split("text", " ")).alias("n_toks"))
    o = t.select(
        "doc_id", "n_toks", (F.sum("n_toks").over(w) - F.col("n_toks")).alias("off")
    )
    b = o.select(
        "doc_id",
        "n_toks",
        "off",
        F.explode(
            F.sequence(
                F.expr(f"off DIV {context}"),
                F.expr(f"(off + n_toks - 1) DIV {context}"),
            )
        ).alias("bin"),
    )
    seg_s = F.greatest(F.col("off"), F.col("bin") * context)
    seg_e = F.least(F.col("off") + F.col("n_toks"), (F.col("bin") + 1) * context)
    got = {
        (r["doc_id"], r["bin"], r["bo"], r["nb"], r["do"])
        for r in b.select(
            "doc_id",
            "bin",
            (seg_s - F.col("bin") * context).alias("bo"),
            (seg_e - seg_s).alias("nb"),
            (seg_s - F.col("off")).alias("do"),
        ).collect()
    }

    # sequential reference
    want = set()
    off = 0
    for i, n in enumerate(toks):
        end = off + n
        for bin_ in range(off // context, (end - 1) // context + 1):
            s = max(off, bin_ * context)
            e = min(end, (bin_ + 1) * context)
            want.add((i, bin_, s - bin_ * context, e - s, s - off))
        off = end
    assert got == want
    # coverage law: every token lands in exactly one (doc, bin) row
    assert sum(r[3] for r in want) == sum(toks)


def test_pagerank_deep_lineage_truncation_is_value_transparent(spark):
    """r10: `_truncate_deep_lineage` engages only past 15 iterations
    (every 8 rounds), and no registered query or test ran that deep —
    the truncation path had zero green evidence. 17 rounds force two
    localCheckpoint cuts (after rounds 8 and 16); values must equal
    the sequential reference exactly as in the 5-round property test,
    proving the cut is plan-only."""
    from collections import defaultdict

    from spark_query_engine.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1), (6, 2)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {r["id"]: r["pr"] for r in pagerank(df, iterations=17).collect()}

    sym = edges + [(b, a) for a, b in edges]
    deg: dict[int, int] = defaultdict(int)
    for u, _ in sym:
        deg[u] += 1
    n = len(deg)
    pr = {u: 1.0 / n for u in deg}
    for _ in range(17):
        acc: dict[int, float] = defaultdict(float)
        for u, v in sym:
            acc[v] += pr[u] / deg[u]
        pr = {v: round(0.15 / n + 0.85 * acc[v], 9) for v in deg}

    assert set(got) == set(pr)
    for u in pr:
        assert abs(got[u] - pr[u]) < 2e-9, (u, got[u], pr[u])


def test_winsorized_bounds_pin_boundary_mass(spark):
    """The 1-ulp percentile-interpolation hazard (SCALING.md 11h):
    with a duplicated-value mass spanning the percentile index, the
    interpolation endpoints are EQUAL (a = b = the mass value), yet
    Spark's a + h·(b−a) is exact while DuckDB's (1−h)·a + h·b is
    1 ulp off — flipping strict-< clip counts for boundary-equal
    rows. The fix pins the bounds at 6dp floor-half-up with DOUBLE
    1e6 literals on both engines; this pins the semantics: pinned
    bounds are bit-identical across engines, equal to the mass
    value, and boundary-equal rows are unclipped on both sides."""
    import duckdb
    import pandas as pd

    # 60 copies of 2.52 then 940 larger values: p5 index = 49.95
    # falls INSIDE the 2.52 mass, so a = b = 2.52 — the hazard case
    vals = [2.52] * 60 + [10.0 + i * 0.01 for i in range(940)]
    pdf = pd.DataFrame({"value": vals})
    sdf = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    b = sdf.agg(
        F.expr("floor(percentile(value, 0.05) * 1e6 + 0.5) / 1e6").alias(
            "lo"
        )
    ).head()
    con = duckdb.connect()
    con.register("t", pdf)
    (dlo,) = con.execute(
        "SELECT FLOOR(quantile_cont(value, 0.05) * 1e6 + 0.5) / 1e6 FROM t"
    ).fetchone()
    # DOUBLE on both engines (the 1000000.0 literal would be DECIMAL
    # in DuckDB), bit-identical, and equal to the duplicated mass
    assert isinstance(dlo, float)
    assert b["lo"] == dlo == 2.52
    # whether the RAW bounds differ by the ulp depends on h and the
    # value magnitude (measured at sf1: lo = 2.52 exact vs 2.52+1ulp,
    # SCALING.md 11h) — the pin must hold either way, which is what
    # the equalities above and the clip parity below assert
    # boundary-equal rows are not clipped under strict < on either side
    n_clip_spark = sdf.where(F.col("value") < F.lit(b["lo"])).count()
    (n_clip_duck,) = con.execute(
        f"SELECT COUNT(*) FROM t WHERE value < {dlo!r}"
    ).fetchone()
    assert n_clip_spark == n_clip_duck == 0


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 6)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_copurchase_pairs_match_nested_loop(spark, rows):
    """graph.copurchase_pairs must emit exactly the (u, v), u < v, pairs
    a nested loop over each order's basket finds, with multiplicity:
    a part repeated inside one order and a pair shared by several
    orders both repeat the edge, because the helper leaves dedup to
    its callers."""
    from spark_query_engine.operators.graph import copurchase_pairs

    expected = Counter(
        (p1, p2)
        for o1, p1 in rows
        for o2, p2 in rows
        if o1 == o2 and p1 < p2
    )
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = Counter((r["u"], r["v"]) for r in copurchase_pairs(li).collect())
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 8), st.sampled_from("abcdefg")),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_shingle_overlap_matches_set_arithmetic(spark, rows):
    """dedup.shingle_overlap (the Jaccard and containment substrate)
    must give, for every id pair sharing a shingle, n_inter = |A ∩ B|
    and na, nb = |A|, |B| — and no row for pairs sharing nothing."""
    from spark_query_engine.operators.dedup import shingle_overlap

    sets: dict[int, set[str]] = {}
    for i, s in rows:
        sets.setdefault(i, set()).add(s)
    expected = {
        (a, b, len(sets[a] & sets[b]), len(sets[a]), len(sets[b]))
        for a in sets
        for b in sets
        if a < b and sets[a] & sets[b]
    }
    sh = spark.createDataFrame(
        [(i, s) for i in sets for s in sets[i]], "id long, shingle string"
    )
    got = {
        (r["id_a"], r["id_b"], r["n_inter"], r["na"], r["nb"])
        for r in shingle_overlap(sh).collect()
    }
    assert got == expected
