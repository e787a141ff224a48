"""Round-3 training-set assembly operators: property tests against
sequential reference implementations, direct semantic checks, and
plan-shape assertions (scale guarantees).
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- winnowing
def _winnow_sequential(text: str, k: int, w: int) -> set[tuple[int, str]]:
    """Direct transcription of the SIGMOD'03 algorithm: slide a window
    of w consecutive k-gram hashes, record each window's minimum
    (ties → rightmost). Returns {(1-based pos, hash)}."""
    nk = len(text) - (k - 1)
    if nk < w:
        return set()
    hashes = [
        hashlib.md5(text[i : i + k].encode()).hexdigest() for i in range(nk)
    ]
    out: set[tuple[int, str]] = set()
    for start in range(nk - w + 1):
        win = hashes[start : start + w]
        m = min(win)
        # rightmost occurrence of the minimum
        idx = start + max(j for j, h in enumerate(win) if h == m)
        out.add((idx + 1, hashes[idx]))
    return out


@given(
    docs=st.lists(
        st.text(alphabet="abcab ", min_size=0, max_size=40),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_winnow_matches_sequential(spark, docs):
    """The distributed winnowing operator (run-length lead/lag
    selection) selects exactly the positions the paper's per-window
    sequential algorithm selects — tiny alphabet so hash ties and
    repeated k-grams are actually exercised."""
    from spark_query_engine.operators.textanalysis import winnow_fingerprints

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id long, text string"
    )
    got = {
        (r["id"], r["pos"], r["h"])
        for r in winnow_fingerprints(df, "id", "text", k=3, w=3).collect()
    }
    want = {
        (i, pos, h)
        for i, d in enumerate(docs)
        for (pos, h) in _winnow_sequential(d, k=3, w=3)
    }
    assert got == want
    # the Arrow substrate (forced via n_hint past the
    # WINNOW_ARROW_MIN_DOCS dispatch) must select the exact same
    # set — bit-identical hex,
    # same tie semantics on the same tiny-alphabet tie-heavy corpus
    arrow = {
        (r["id"], r["pos"], r["h"])
        for r in winnow_fingerprints(
            df, "id", "text", k=3, w=3, n_hint=10**9
        ).collect()
    }
    assert arrow == want


def test_winnow_shared_substring_guarantee(spark):
    """The winnowing contract: documents sharing a substring of length
    ≥ k + w - 1 share at least one fingerprint VALUE."""
    from spark_query_engine.operators.textanalysis import winnow_fingerprints

    shared = "the quick brown fox"
    docs = [
        (0, "AAA " + shared + " BBB"),
        (1, "xyzzy" + shared + "qq"),
    ]
    df = spark.createDataFrame(docs, "id long, text string")
    rows = winnow_fingerprints(df, "id", "text", k=5, w=4).collect()
    h0 = {r["h"] for r in rows if r["id"] == 0}
    h1 = {r["h"] for r in rows if r["id"] == 1}
    assert h0 & h1, "shared substring must yield a shared fingerprint"


# ----------------------------------------------------------------- chunking
def test_chunk_sliding_covers_and_reconstructs(spark):
    """Every chunk is ≤ CHUNK tokens; consecutive chunks overlap by
    CHUNK-STRIDE; the chunk set covers every token; fingerprints match
    a sequential chunker."""
    from spark_query_engine.queries import queries
    from spark_query_engine.queries.training import _CHUNK, _STRIDE

    out = queries()["corpus_chunk_sliding"](spark, SF)
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_fp"])
        for r in out.collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    for d in docs:
        toks = d["text"].split(" ")
        starts = list(range(0, len(toks), _STRIDE))
        covered: set[int] = set()
        for ci, st_ in enumerate(starts):
            chunk = toks[st_ : st_ + _CHUNK]
            covered.update(range(st_, st_ + len(chunk)))
            fp = hashlib.md5(" ".join(chunk).encode()).hexdigest()
            assert got[(d["doc_id"], ci)] == (len(chunk), fp)
        assert covered == set(range(len(toks)))
    # row count: exactly one row per (doc, start offset)
    assert len(got) == sum(
        len(range(0, len(d["text"].split(" ")), _STRIDE)) for d in docs
    )


# -------------------------------------------------------------------- PII
def test_pii_redact_removes_every_pattern(spark):
    """After redaction no pattern matches remain, and counts follow
    the deterministic injection schedule (doc_id % 4)."""
    from spark_query_engine.queries import queries
    from spark_query_engine.queries.training import (
        _RE_EMAIL,
        _RE_IP,
        _RE_PHONE,
    )

    out = queries()["text_pii_redact"](spark, SF).collect()
    for r in out:
        m = r["doc_id"] % 4
        assert r["n_emails"] == (1 if m in (1, 3) else 0)
        assert r["n_phones"] == (1 if m == 2 else 0)
        assert r["n_ips"] == (1 if m == 3 else 0)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # no organic PII in the corpus: battery finds zero matches pre-injection
    organic = docs.select(
        F.sum(F.regexp_count("text", F.lit(_RE_EMAIL))).alias("e"),
        F.sum(F.regexp_count("text", F.lit(_RE_IP))).alias("i"),
        F.sum(F.regexp_count("text", F.lit(_RE_PHONE))).alias("p"),
    ).first()
    assert (organic["e"], organic["i"], organic["p"]) == (0, 0, 0)


# ------------------------------------------------------------------- DSIR
def test_dsir_prefers_target_slice(spark):
    """Importance weights must rank the target slice (source='src0')
    above its base rate: the top-100 selection is enriched in src0
    relative to the corpus share."""
    from spark_query_engine.queries import queries

    sel = queries()["corpus_dsir_select"](spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    joined = sel.join(docs, "doc_id")
    n_sel = joined.count()
    n_sel_tgt = joined.where(F.col("source") == "src0").count()
    n = docs.count()
    n_tgt = docs.where(F.col("source") == "src0").count()
    assert n_sel_tgt / n_sel > n_tgt / n


# ------------------------------------------------------------- plan shapes
def test_chunk_sliding_has_no_key_shuffle(spark):
    """The chunker itself is a pure narrow transform — no KEY-based
    Exchange (hash/range) anywhere in the plan. The one allowed
    Exchange is the widen guard's RoundRobinPartitioning respread
    (r11: the explode inherited the scan's byte-packed split count —
    measured 1.13 s -> 0.64 s at sf1; a no-op on many-split cluster
    scans). The OPERATOR stays exchange-free for streaming parity —
    asserted separately in test_streaming.py."""
    from spark_query_engine.plans import format_plan
    from spark_query_engine.queries import queries

    plan = format_plan(queries()["corpus_chunk_sliding"](spark, SF), "physical")
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan


def test_batch_ann_uses_window_group_limit(spark):
    from spark_query_engine.plans import format_plan
    from spark_query_engine.queries import queries

    plan = format_plan(queries()["ann_batch_topk"](spark, SF), "physical")
    assert "WindowGroupLimit" in plan
    # the only join is the broadcast of the 8-row query batch
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_bloom_prefilter_semijoin_precedes_join(spark):
    """The hashed-bucket runtime filter must appear as a broadcast
    LeftSemi on pmod(xxhash64(...)) BELOW the exact join."""
    from spark_query_engine.plans import format_plan
    from spark_query_engine.queries import queries

    plan = format_plan(queries()["join_bloom_prefilter"](spark, SF), "physical")
    assert "LeftSemi" in plan
    assert "xxhash64" in plan
    semi_pos = plan.index("LeftSemi")
    inner_pos = plan.index("Inner")
    assert inner_pos < semi_pos  # plan prints top-down: semi is deeper


def test_ivf_pq_probe_has_no_scale_killers(spark):
    from spark_query_engine.plans import format_plan
    from spark_query_engine.queries import queries

    plan = format_plan(queries()["ann_ivf_pq_topk"](spark, SF), "physical")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


# -------------------------------------------------------------------- BPE
def _bpe_sequential(word_freq: dict[str, int], rounds: int):
    """Classic BPE trainer over a frequency dict (Sennrich et al.
    2016): count adjacent pairs weighted by frequency, merge the most
    frequent (ties → lexicographic), apply left-to-right
    non-overlapping."""
    segs = {w: [c for c in w] for w in word_freq}
    merges = []
    for _ in range(rounds):
        counts: dict[tuple[str, str], int] = {}
        for w, toks in segs.items():
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] = counts.get(p, 0) + word_freq[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        merges.append((a, b, c))
        for w, toks in segs.items():
            out: list[str] = []
            i = 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            segs[w] = out
    return segs, merges


@given(
    docs=st.lists(
        st.text(alphabet="abc ", min_size=1, max_size=30),
        min_size=1,
        max_size=5,
    )
)
@settings(**SETTINGS)
def test_bpe_train_matches_sequential(spark, docs):
    """The distributed BPE trainer (pair-count agg + 1-row argmax +
    codegen'd merge fold) reproduces the classic sequential algorithm
    — tiny alphabet so overlapping-run merges ('aaa' under rule a+a)
    and pair-count ties are exercised."""
    from collections import Counter

    from spark_query_engine.operators.textanalysis import bpe_train

    df = spark.createDataFrame([(d,) for d in docs], "text string")
    toks, merges = bpe_train(df, "text", rounds=3)
    got = {r["w"]: list(r["t"]) for r in toks.collect()}

    wf = Counter(w for d in docs for w in d.split(" ") if w)
    want_segs, want_merges = _bpe_sequential(dict(wf), rounds=3)
    assert got == want_segs
    assert [(a, b, c) for (_r, a, b, c) in merges] == want_merges


def test_eval_split_no_duplicate_leakage(spark):
    """The split invariant: two docs with the same normalized text can
    never land in different splits."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    norm_fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    )
    bucket = (
        F.conv(F.substring(F.md5(norm_fp), 1, 8), 16, 10).cast("long") % 100
    )
    split = (
        F.when(bucket == 0, "test").when(bucket == 1, "val").otherwise("train")
    )
    per_fp = (
        docs.select(norm_fp.alias("fp"), split.alias("split"))
        .groupBy("fp")
        .agg(F.countDistinct("split").alias("n_splits"))
    )
    assert per_fp.where(F.col("n_splits") > 1).count() == 0

    # non-vacuous variant: plant near-layout duplicates (case and
    # whitespace skew) and require identical split assignment
    planted = spark.createDataFrame(
        [
            (i * 3 + 0, f"some document number {i}"),
            (i * 3 + 1, f"  Some   document NUMBER {i} "),
            (i * 3 + 2, f"SOME DOCUMENT NUMBER {i}"),
        ][j]
        for i in range(50)
        for j in range(3)
    ).toDF("doc_id", "text")
    got = (
        planted.select(norm_fp.alias("fp"), split.alias("split"))
        .groupBy("fp")
        .agg(
            F.countDistinct("split").alias("n_splits"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    rows = got.collect()
    assert all(r["n"] == 3 for r in rows) and len(rows) == 50
    assert all(r["n_splits"] == 1 for r in rows)


# ------------------------------------------------------- dup-span removal
def _dup_span_sequential(docs: list[str], k: int):
    """Direct implementation: mark k-token windows occurring in >1 doc,
    erase covered tokens."""
    toks = [d.split(" ") for d in docs]
    owners: dict[str, set[int]] = {}
    for di, t in enumerate(toks):
        for s in range(len(t) - k + 1):
            owners.setdefault(" ".join(t[s : s + k]), set()).add(di)
    dup = {g for g, ds in owners.items() if len(ds) > 1}
    out = []
    for di, t in enumerate(toks):
        cov: set[int] = set()
        for s in range(len(t) - k + 1):
            if " ".join(t[s : s + k]) in dup:
                cov.update(range(s, s + k))
        kept = [tok for i, tok in enumerate(t) if i not in cov]
        out.append((di, len(t), len(t) - len(kept), " ".join(kept)))
    return out


@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30),
        min_size=2,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_dup_span_removal_matches_sequential(spark, docs):
    """The distributed ExactSubstr-style span removal reproduces the
    sequential mark-and-erase — 2-letter alphabet so cross-doc window
    collisions and overlapping covered spans actually occur."""
    from spark_query_engine.operators.dedup import dup_span_removal

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id long, text string"
    )
    got = sorted(
        (r["id"], r["n_tokens"], r["n_removed"], r["cleaned_text"])
        for r in dup_span_removal(df, "id", "text", k=3).collect()
    )
    assert got == _dup_span_sequential(docs, k=3)


def test_dup_span_removal_is_nonvacuous_on_corpus(spark):
    """The synthetic corpus plants near-duplicates, so the sliding
    8-gram screen must actually remove spans somewhere — and cleaned
    docs must never gain tokens."""
    from spark_query_engine.queries import queries

    out = queries()["corpus_dup_span_removal"](spark, SF)
    agg = out.agg(
        F.sum((F.col("n_removed") > 0).cast("int")).alias("docs_touched"),
        F.sum((F.col("n_removed") < 0).cast("int")).alias("negative"),
    ).first()
    assert agg["docs_touched"] > 0
    assert agg["negative"] == 0


def test_cms_never_undercounts_and_is_tight_for_heavy_hitters(spark):
    """The count-min contract on the real corpus: every probe estimate
    ≥ its exact count (bound_holds everywhere), and for the top-10
    heavy hitters the overestimate is small relative to their counts
    (heavy hitters dominate their cells, so collisions add little)."""
    from spark_query_engine.queries import queries

    rows = queries()["corpus_sketch_cms"](spark, SF).collect()
    assert len(rows) == 10
    assert all(r["bound_holds"] for r in rows)
    assert all(r["est_n"] >= r["exact_n"] for r in rows)
    # tightness: total overestimate under 20% of total exact mass for
    # the heavy hitters (4x256 cells vs a ~31-word vocabulary)
    tot_exact = sum(r["exact_n"] for r in rows)
    tot_over = sum(r["overestimate"] for r in rows)
    assert tot_over <= 0.2 * tot_exact, (tot_over, tot_exact)


# ------------------------------------------------- round-3b: new operators
def test_markov_transitions_row_stochastic(spark):
    """Every from_type's outgoing probabilities sum to ~1 (6dp
    rounding slack), and counts reconstruct the pair total."""
    from spark_query_engine.queries import queries

    df = queries()["events_markov_transitions"](spark, SF)
    rows = df.collect()
    by_from = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
    for ft, rs in by_from.items():
        assert abs(sum(r["p"] for r in rs) - 1.0) < 1e-4, ft
    e = spark.read.parquet(f"{SF}/events.parquet")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    assert sum(r["n_transitions"] for r in rows) == n_events - n_users


def test_quality_classifier_dot_sign_is_keep(spark):
    """keep must equal dot >= 0 and n_features = len(text) - 1
    (the bigram count of a non-empty doc)."""
    from spark_query_engine.queries import queries

    df = queries()["corpus_quality_classifier"](spark, SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length("text").alias("n")
    )
    joined = df.join(docs, "doc_id").collect()
    assert joined
    for r in joined:
        assert r["keep"] == (r["dot"] >= 0)
        assert r["n_features"] == r["n"] - 1
        assert (r["score"] >= 0.5) == r["keep"]


def test_contrastive_pairs_label_integrity(spark):
    """Positives are exactly the verified minhash near-dup pairs;
    negatives never collide with a positive pair; both sides are
    canonically ordered (id_a < id_b)."""
    from spark_query_engine.operators.dedup import minhash_near_duplicates
    from spark_query_engine.queries import queries

    rows = queries()["corpus_contrastive_pairs"](spark, SF).collect()
    pos = {(r["id_a"], r["id_b"]) for r in rows if r["label"] == 1}
    neg = {(r["id_a"], r["id_b"]) for r in rows if r["label"] == 0}
    assert pos and neg
    assert not pos & neg
    assert all(a < b for a, b in pos | neg)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    truth = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
            threshold=0.6,
        ).collect()
    }
    assert pos == truth


def test_scd2_two_windows_share_one_exchange(spark):
    """The SCD2 plan must contain exactly ONE Exchange for the two
    key-partitioned windows (Catalyst reuses the sort), and no
    single-partition window."""
    from spark_query_engine.queries import queries

    plan = (
        queries()["data_scd2_history"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 2  # union sides fold into one read
    assert "SinglePartition" not in plan


@given(
    baskets=st.lists(
        st.lists(st.integers(1, 12), min_size=1, max_size=5),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_triangle_count_matches_bruteforce(spark, baskets):
    """Degree-oriented triangle counting must agree with the O(n³)
    brute force on random co-occurrence graphs (including hubs,
    isolated nodes, and duplicate basket lines)."""
    import os
    import tempfile
    from itertools import combinations

    from spark_query_engine.queries import queries

    rows = [
        (oid, pk, 1, i, 1.0, 1.0, 0.0, 0.0, "N", "O", None)
        for oid, parts in enumerate(baskets)
        for i, pk in enumerate(parts)
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp",
        ).write.mode("overwrite").parquet(os.path.join(td, "lineitem.parquet"))
        got = queries()["graph_triangle_count"](spark, td).collect()[0]

    edges = set()
    for parts in baskets:
        for x, y in combinations(set(parts), 2):
            edges.add((min(x, y), max(x, y)))
    nodes = {n for e in edges for n in e}
    tris = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in edges and (a, c) in edges and (b, c) in edges
    )
    deg = {n: 0 for n in nodes}
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())

    assert got["n_nodes"] == len(nodes)
    assert got["n_edges"] == len(edges)
    assert got["n_wedges"] == wedges
    assert got["n_triangles"] == tris


def test_tri_sample_threshold_integer_rule():
    """The DOULION gate threshold is derived by pure integer
    arithmetic so Spark and the DuckDB oracle cannot diverge on a
    float boundary: smallest t in [16, 256] with t³·n ≥ 256³·20000,
    256 when no t qualifies (n < 20000 → p = 1, sampling off)."""
    from spark_query_engine.queries.training import _tri_sample_threshold as f

    assert f(1) == 256  # tiny corpus: keep everything
    assert f(19_999) == 256
    assert f(20_000) == 256  # exact boundary: t=256 satisfies with equality
    # the measured testdata scales (verified against the DuckDB rule)
    assert f(60_000) == 178
    assert f(600_000) == 83
    assert f(6_000_000) == 39
    assert f(18_000_000) == 27
    # the floor: even at 100 TB-ish n the gate never drops below 16/256
    assert f(10**12) == 16
    # monotone non-increasing in n
    prev = 257
    for n in (10**3, 10**4, 10**5, 10**6, 10**7, 10**9):
        t = f(n)
        assert 16 <= t <= 256 and t <= prev
        prev = t


def test_triangle_sampled_is_exact_at_p1(spark, sf_dir):
    """At sf0.001 (6k lineitem rows < the 20k budget) the sampled
    query's gate threshold is 256 — every edge survives — so the
    estimator must REPRODUCE the exact query bit-for-bit: same edge
    count, same triangle count, estimates equal to the exact values
    as doubles. Pins the estimator arithmetic (1/p³ at p=1) and the
    shared wedge core against the exact twin."""
    from spark_query_engine.queries import queries

    qs = queries()
    exact = qs["graph_triangle_count"](spark, sf_dir).collect()[0]
    samp = qs["graph_triangle_sampled"](spark, sf_dir).collect()[0]
    assert samp["thr_256"] == 256
    assert samp["sample_p"] == 1.0
    assert samp["n_edges_sampled"] == exact["n_edges"]
    assert samp["n_tri_sampled"] == exact["n_triangles"]
    assert samp["est_edges"] == float(exact["n_edges"])
    assert samp["est_triangles"] == float(exact["n_triangles"])


def test_image_ahash_blocking_has_exact_recall(spark):
    """The banded Hamming join must return exactly the brute-force
    pair set over the real hash relation (pigeonhole guarantee), and
    hashes must fit in two positive 32-bit words."""
    from spark_query_engine.operators import multimodal as MM

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hs = MM.ahash_images(MM.attach_ppm_payload(docs, "doc_id", "text"))
    rows = hs.collect()
    assert all(0 <= r["h_lo"] < 2**32 and 0 <= r["h_hi"] < 2**32 for r in rows)

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in MM.ahash_near_duplicates(hs, max_distance=3, blocks=4).collect()
    }
    want = {}
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            x, y = sorted((a["id"], b["id"]))
            d = bin((a["h_lo"] ^ b["h_lo"])).count("1") + bin(
                (a["h_hi"] ^ b["h_hi"])
            ).count("1")
            if d <= 3:
                want[(x, y)] = d
    assert got == want

    # r9: the footer-sized multi-index schemes are EXACT at every
    # group width — g=2 (disjoint pairs ≡ historical 16-bit bands),
    # g=4 (C(8,4) byte-band groups, the ~1e9-image regime) both
    # reproduce brute force on the same relation
    for n_hint in (500, 10**9):
        sized = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in MM.ahash_near_duplicates(
                hs, max_distance=3, n_hint=n_hint
            ).collect()
        }
        assert sized == want
    # crossover pins for the group-size selector
    assert MM.ahash_group_size(500) == 2
    assert MM.ahash_group_size(1_048_576) == 2
    assert MM.ahash_group_size(1_048_577) == 3
    assert MM.ahash_group_size(10**9) == 4
    assert MM.ahash_group_size(10**12) == 5
    assert MM.ahash_group_size(10**14) == 5  # explicit 8-d clamp

    # r10 (r9 ADVICE): at max_distance=4 the g=2 disjoint-pairs
    # shortcut is NOT pigeonhole-exact (4 errors can dirty all 4
    # disjoint pairs) — the n_hint branch must fall back to all
    # C(8,2) pairs and still reproduce brute force at d<=4
    want4 = {}
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            x, y = sorted((a["id"], b["id"]))
            d = bin((a["h_lo"] ^ b["h_lo"])).count("1") + bin(
                (a["h_hi"] ^ b["h_hi"])
            ).count("1")
            if d <= 4:
                want4[(x, y)] = d
    got4 = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in MM.ahash_near_duplicates(
            hs, max_distance=4, n_hint=500
        ).collect()
    }
    assert got4 == want4
    # the occupancy term follows: ngroups=28 at d=4 crosses to g=3
    # earlier than the disjoint-pair ngroups=4 at d<=3
    assert MM.ahash_group_size(500, max_distance=4) == 2
    assert MM.ahash_group_size(1_048_576, max_distance=4) == 3


@given(
    train=st.lists(
        st.text(alphabet="abc ", min_size=1, max_size=25),
        min_size=1,
        max_size=4,
    ),
    apply_docs=st.lists(
        st.text(alphabet="abcd ", min_size=1, max_size=25),
        min_size=1,
        max_size=4,
    ),
)
@settings(**SETTINGS)
def test_bpe_apply_matches_sequential(spark, train, apply_docs):
    """bpe_apply folds a FIXED merge table (trained elsewhere) over an
    arbitrary corpus exactly like the sequential rank-order apply —
    including unseen characters ('d' never occurs in training) and
    words where only a prefix of the merges fires."""
    from collections import Counter

    from spark_query_engine.operators.textanalysis import bpe_apply, bpe_train

    tdf = spark.createDataFrame([(d,) for d in train], "text string")
    _toks, merges = bpe_train(tdf, "text", rounds=3)

    adf = spark.createDataFrame([(d,) for d in apply_docs], "text string")
    got = {r["w"]: list(r["t"]) for r in bpe_apply(adf, "text", merges).collect()}

    wf = Counter(w for d in apply_docs for w in d.split(" ") if w)
    want = {}
    for w in wf:
        toks = list(w)
        for _r, a, b, _c in merges:
            out: list[str] = []
            i = 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        want[w] = toks
    assert got == want


def test_rag_index_plan_shape(spark):
    """The RAG capstone must probe via a broadcast hash equi-join on
    the bucket key (the 4-row query batch is the build side) and cut
    top-3 with WindowGroupLimit — no nested loop, no cartesian, no
    corpus-sized window."""
    from spark_query_engine.plans import format_plan
    from spark_query_engine.queries import queries

    plan = format_plan(queries()["pipeline_rag_index"](spark, SF), "physical")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_curriculum_phases_are_terciles(spark):
    """Phase assignment must cut at the exact tercile boundaries:
    every phase-1 difficulty <= every phase-2 <= every phase-3, and
    phase sizes are balanced up to boundary ties."""
    from spark_query_engine.queries import queries

    rows = queries()["corpus_curriculum_order"](spark, SF).collect()
    by_phase = {}
    for r in rows:
        by_phase.setdefault(r["phase"], []).append(r["difficulty"])
    assert set(by_phase) <= {1, 2, 3}
    if {1, 2} <= set(by_phase):
        assert max(by_phase[1]) <= min(by_phase[2])
    if {2, 3} <= set(by_phase):
        assert max(by_phase[2]) <= min(by_phase[3])
    n = len(rows)
    for p, vals in by_phase.items():
        assert len(vals) >= n // 6, (p, len(vals), n)


# ------------------------------------------------- experimentation suite
def test_experimentation_suite_aa_sanity(spark):
    """The A/A-null experimentation wave holds its design guarantees:
    the mSPRT monitor never rejects on a true-null parity split, SRM
    is not detected when the observed census matches the designed
    1/3:2/3 split, the jackknife SE is positive and small relative to
    the ratio, and CUPED's variance-reduction factor is a valid
    squared correlation in [0, 1] with theta finite."""
    from spark_query_engine.queries.training import (
        stats_cuped_adjusted,
        stats_jackknife_ratio,
        stats_msprt_sequential,
        stats_srm_check,
    )

    ms = stats_msprt_sequential(spark, SF).collect()
    assert len(ms) > 0
    assert all(r["rejected"] == 0 for r in ms), (
        "always-valid test rejected on an A/A split"
    )
    # log_lambda is monotone-ish small under the null; never huge
    assert all(r["log_lambda"] < 2.0 for r in ms)

    srm = stats_srm_check(spark, SF).collect()[0]
    assert srm["n_users"] == srm["obs_0"] + srm["obs_1"]
    assert srm["srm_detected"] == 0, (
        f"SRM flagged on the designed split: chi2={srm['chi2']}"
    )

    jk = stats_jackknife_ratio(spark, SF).collect()[0]
    assert jk["jk_se"] > 0.0
    assert jk["jk_se"] < jk["ratio_overall"], (
        "leave-one-day SE should be far below the ratio itself"
    )

    cu = stats_cuped_adjusted(spark, SF).collect()
    assert len(cu) == 2
    for r in cu:
        assert 0.0 <= r["var_reduction"] <= 1.0
        assert abs(r["theta"]) < 100.0
    # CUPED on an A/A split: adjusted means at least as close as raw
    raw_gap = abs(cu[0]["mean_post"] - cu[1]["mean_post"])
    adj_gap = abs(cu[0]["cuped_mean_post"] - cu[1]["cuped_mean_post"])
    assert adj_gap <= raw_gap + 1e-9


def test_policy_replay_and_dp_release_semantics(spark):
    """Replay evaluation: the greedy action really is the per-context
    argmax of mean logged reward, and the IPS contribution equals
    DM * (n_x / n) algebraically for the matched-set estimator. DP
    release (the existing curation mechanism): noisy = true +
    rounded noise with |noise| in the Laplace(1) envelope for its
    1e-6-grid uniform (|noise| <= ln(5e5) ~ 13.1, rounded <= 14)."""
    from spark_query_engine.queries.curation import data_dp_noisy_counts
    from spark_query_engine.queries.training import events_policy_replay
    import pyspark.sql.functions as F
    from spark_query_engine.queries import load

    rep = events_policy_replay(spark, SF).collect()
    ev = load(spark, SF, "events").select(
        F.col("event_type").alias("action"),
        F.floor(F.hour("ts") / 6.0).cast("bigint").alias("ctx"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("r"),
    )
    n = ev.count()
    assert sum(r["n_events"] for r in rep) == n
    means = {
        (row["ctx"], row["action"]): row["m"]
        for row in ev.groupBy("ctx", "action")
        .agg((F.sum("r") / F.count(F.lit(1))).alias("m"))
        .collect()
    }
    for r in rep:
        best = max(
            (v, k[1])
            for k, v in means.items()
            if k[0] == r["context"]
        )[0]
        assert means[(r["context"], r["pi_action"])] == best
        # IPS = DM * n_x / n up to the two 6dp roundings
        assert abs(
            r["ips_value"] - r["dm_value"] * r["n_events"] / n
        ) < 2e-6

    dp = data_dp_noisy_counts(spark, SF).collect()
    assert len(dp) > 0
    for r in dp:
        assert abs(r["noisy_count"] - r["true_count"]) <= 14
        assert abs(r["noise"]) <= 13.2
    # the release is non-trivial: some noise is actually non-zero
    assert any(r["noisy_count"] != r["true_count"] for r in dp)


def test_qini_uplift_aa_hugs_zero_and_is_monotone_in_counts(spark):
    """On the A/A parity split the uplift curve must hug zero (no
    threshold shows |uplift| above a few points at sf0.001 scale) and
    the cumulative counts must be non-decreasing as the score
    threshold relaxes; the full-population row's Qini is the total
    conversion imbalance, bounded by the same A/A noise."""
    from spark_query_engine.queries.training import stats_qini_uplift

    rows = stats_qini_uplift(spark, SF).orderBy(
        F.col("score").desc()
    ).collect()
    assert len(rows) >= 3
    prev = None
    for r in rows:
        assert abs(r["uplift"]) < 0.5  # A/A: no real effect anywhere
        if prev is not None:
            assert r["cum_nt"] >= prev["cum_nt"]
            assert r["cum_ct"] >= prev["cum_ct"]
            assert r["cum_nc"] >= prev["cum_nc"]
            assert r["cum_cc"] >= prev["cum_cc"]
        prev = r
    full = rows[-1]
    # last row covers everyone with both arms present
    assert full["cum_nt"] + full["cum_nc"] > 0


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=24),
        min_size=1,
        max_size=5,
    )
)
@settings(**SETTINGS)
def test_char_bigrams_matches_array_transform_form(spark, texts):
    """The integer-sequence/substr bigram generator (the r5g measured
    optimization) produces exactly the multiset the original
    array-transform explode produced, on arbitrary short strings
    including empties and single chars (no bigrams)."""
    from spark_query_engine.operators.textanalysis import char_bigrams

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = sorted(
        (r["id"], r["bg"])
        for r in char_bigrams(df, "id", "text").collect()
    )
    want = sorted(
        (i, t[k : k + 2])
        for i, t in enumerate(texts)
        for k in range(len(t) - 1)
    )
    assert got == want


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=3,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_ols_from_moments_matches_sequential_least_squares(spark, pts):
    """The streaming moment readout equals the normal-equation least
    squares computed sequentially: slope/intercept minimize the sum
    of squared residuals (checked by perturbation), and r2 in [0,1]."""
    from spark_query_engine.streaming import ols_from_moments

    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    syy = sum(y * y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    out = ols_from_moments(n, sx, sy, sxx, syy, sxy)
    if out is None:
        assert n * sxx - sx * sx == 0 or n * syy - sy * sy == 0
        return
    slope, intercept, r2 = out
    assert -1e-9 <= r2 <= 1 + 1e-9

    def sse(a, b):
        return sum((y - (a * x + b)) ** 2 for x, y in pts)

    base = sse(slope, intercept)
    for da, db in ((1e-4, 0), (-1e-4, 0), (0, 1e-4), (0, -1e-4)):
        assert base <= sse(slope + da, intercept + db) + 1e-9


def test_target_encoding_is_out_of_fold(spark):
    """Leakage check by construction: recompute each (type, fold)
    encoding from ONLY the other folds' rows and it must equal the
    query's oof_mean (up to the 6dp display rounding)."""
    import math

    from spark_query_engine.queries import load
    from spark_query_engine.queries.training import data_target_encoding

    rows = data_target_encoding(spark, SF).collect()
    ev = (
        load(spark, SF, "events")
        .select(
            "event_type",
            (F.col("user_id") % 5).alias("fold"),
            F.floor(F.col("value") * 100 + 0.5)
            .cast("bigint")
            .alias("y"),
        )
        .collect()
    )
    for r in rows:
        others = [
            e["y"]
            for e in ev
            if e["event_type"] == r["event_type"]
            and e["fold"] != r["fold"]
        ]
        want = math.floor(
            1e6 * (sum(others) / (len(others) * 100.0)) + 0.5
        ) / 1e6
        assert r["oof_mean"] == want, (r["event_type"], r["fold"])


def test_kcore_delta_peel_cascades(spark, tmp_path, monkeypatch):
    """r10: the TPC-H co-purchase graph has min degree >= 3 at every
    driver scale, so the green oracle rows never drive the delta
    peel's maintenance logic (frontier join -> degree decrement ->
    new frontier) through an actual round — measured rounds=0
    everywhere (SCALING.md 10d). This test builds a synthetic
    co-purchase graph where peeling CASCADES (a 6-path that unravels
    from both ends plus a 4-clique core) and checks the delta peel
    against a brute-force python peel, round count included."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_query_engine.queries import training

    # orders of exactly 2 parts -> one co-purchase edge each
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]  # the path
    clique = [10, 11, 12, 13]
    edges += [
        (a, b) for i, a in enumerate(clique) for b in clique[i + 1 :]
    ]
    okeys, pkeys = [], []
    for o, (a, b) in enumerate(edges, start=1):
        okeys += [o, o]
        pkeys += [a, b]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(okeys, pa.int64()),
                "l_partkey": pa.array(pkeys, pa.int64()),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )

    # brute-force synchronized peel at k=2
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    alive = set(adj)
    rounds = 0
    while True:
        front = {u for u in alive if len(adj[u] & alive) < 2}
        if not front:
            break
        alive -= front
        rounds += 1
    assert rounds == 3 and alive == set(clique)  # the cascade is real

    monkeypatch.setattr(training, "_KCORE_K", 2)
    out = {
        r["part_id"]: (r["degree"], r["converged"])
        for r in training.graph_kcore_peel(spark, str(tmp_path)).collect()
    }
    assert training.graph_kcore_peel.last_rounds == 3
    assert out == {u: (3, True) for u in clique}


# ---------------------------------------------------------------- config
def test_tri_close_strategy_rejects_malformed_cap(spark):
    """A triangle broadcast cap that is not an integer fails loudly,
    naming the key, instead of silently gating on the default."""
    import pytest

    from spark_query_engine.queries.training import (
        _TRI_BROADCAST_MAX_EDGES,
        _tri_close_strategy,
    )

    key = "spark.spark_query_engine.triangle.broadcast_max_edges"
    before = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        assert _tri_close_strategy(spark, _TRI_BROADCAST_MAX_EDGES)
        assert not _tri_close_strategy(spark, _TRI_BROADCAST_MAX_EDGES + 1)
        spark.conf.set(key, "10")
        assert _tri_close_strategy(spark, 10) and not _tri_close_strategy(spark, 11)
        for bad in ("ten", "1e6", ""):
            spark.conf.set(key, bad)
            with pytest.raises(ValueError, match=key.replace(".", "\\.")):
                _tri_close_strategy(spark, 1)
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
