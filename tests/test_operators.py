"""Operator unit tests: dedup / similarity / text analysis /
multimodal on small controlled inputs (the reference's accumulator/
datasource unit-test layer, SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_query_engine.operators import dedup as D
from spark_query_engine.operators import multimodal as MM
from spark_query_engine.operators import similarity as S
from spark_query_engine.operators import textanalysis as TA

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "the quick brown fox jumps over the lazy dog today"),  # near-dup of 1
    (3, "completely different words appear within this very sentence here"),
    (4, "the quick brown fox jumps over the lazy dog tonight"),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_duplicates(docs):
    out = D.exact_duplicates(docs, "doc_id", "text")
    groups = {r["representative_id"]: r["n_copies"] for r in out.collect()}
    assert groups[1] == 2  # docs 1 and 4 identical
    assert out.count() == 3


def test_word_shingles(docs):
    sh = D.word_shingles(docs, "doc_id", "text", k=3)
    one = {r["shingle"] for r in sh.where(F.col("id") == 1).collect()}
    assert "the quick brown" in one
    assert "lazy dog tonight" in one
    assert all(len(s.split()) == 3 for s in one)


def test_minhash_finds_near_dups(docs):
    out = D.minhash_near_duplicates(
        docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4, threshold=0.5
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5  # near dup
    assert all(3 not in p for p in pairs)  # unrelated doc matches nothing


def test_simhash_distance_properties(docs):
    out = {r["id"]: r["simhash"] for r in D.simhash(docs, "doc_id", "text").collect()}
    assert out[1] == out[4]  # identical text → identical simhash
    assert 0 <= out[1] < (1 << 32)
    # near-dup differs in ≤ a few bits; unrelated doc differs in many
    assert bin(out[1] ^ out[2]).count("1") < bin(out[1] ^ out[3]).count("1")


def test_simhash_near_duplicates(docs):
    out = D.simhash_near_duplicates(docs, "doc_id", "text", n=4, max_distance=3)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs  # one-token difference → tiny hamming


def test_minhash_config_prices_recall():
    """r9: the banding recall knob — pin the S-curve picks so the
    priced points in SCALING.md's measured grid cannot drift from
    the selector."""
    import pytest

    assert D.minhash_config(0.6, 0.9) == (68, 17)
    assert D.minhash_config(0.6, 0.75) == (40, 10)
    assert D.minhash_config(0.6, 0.99) == (136, 34)
    assert D.minhash_config(0.8, 0.9) == (20, 5)
    assert D.minhash_config(0.95, 0.9) == (8, 2)
    # the curve itself: the fixed 16/4 config's documented points
    assert round(D.minhash_collision_prob(0.6, 16, 4), 3) == 0.426
    assert round(D.minhash_collision_prob(0.95, 16, 4), 4) == 0.9988
    # every pick actually meets its target on the analytic curve
    for t, rho in [(0.5, 0.9), (0.6, 0.75), (0.6, 0.99), (0.9, 0.95)]:
        h, b = D.minhash_config(t, rho)
        assert D.minhash_collision_prob(t, h, b) >= rho
    with pytest.raises(ValueError):
        D.minhash_config(0.2, 0.99, max_hashes=64)  # budget exceeded
    # r10 (r9 ADVICE): validation — a silent floor would price a
    # different banding than the one run
    with pytest.raises(ValueError):
        D.minhash_collision_prob(0.6, 16, 5)  # 16 % 5 != 0
    with pytest.raises(ValueError):
        D.minhash_config(0.6, 0.9, rows_per_band=0)


def test_simhash_band_width_footer_sizing(docs):
    """r9: the band width is footer-sized (the LSH-plane pattern) —
    pin the crossovers and the superset clamp, and check the banded
    join against brute force over the same fingerprint at each
    width."""
    # historical 8-bit bands hold through ceil(n/64) <= 2^8 docs
    assert D.simhash_band_bits(1) == 8
    assert D.simhash_band_bits(500) == 8  # sf0.01
    assert D.simhash_band_bits(5000) == 8  # sf0.1
    assert D.simhash_band_bits(16384) == 8
    assert D.simhash_band_bits(16385) == 9  # exact crossover
    assert D.simhash_band_bits(50000) == 10  # the sf1 replica corpus
    assert D.simhash_band_bits(2_097_152) == 15
    assert D.simhash_band_bits(10**12) == 15  # explicit superset clamp
    # pigeonhole recall is exact at every width: the band join returns
    # exactly the brute-force Hamming <= 3 pairs of the 4·width-bit
    # fingerprint, widths 8, 9, 14 and the clamped 15
    for n in (5, 16385, 10**6, 10**12):
        bits = 4 * D.simhash_band_bits(n)
        sims = sorted(
            (r["id"], r["simhash"])
            for r in D.simhash(docs, "doc_id", "text", bits=bits).collect()
        )
        want = {
            (a, b, bin(x ^ y).count("1"))
            for i, (a, x) in enumerate(sims)
            for b, y in sims[i + 1:]
            if bin(x ^ y).count("1") <= 3
        }
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in D.simhash_near_duplicates(
                docs, "doc_id", "text", n=n, max_distance=3
            ).collect()
        }
        assert got == want, n


def test_simhash_wide_fingerprint_prefix(docs):
    """The widened fingerprint is a bit-superset of the historical
    one: simhash(bits=40) >> 8 == simhash(bits=32) (both vote on hash
    bits 28..60 in those positions), and pigeonhole recall stays
    exact at widened widths (the identical pair is found at
    hamming 0)."""
    s32 = {r["id"]: r["simhash"] for r in D.simhash(docs, "doc_id", "text", bits=32).collect()}
    s40 = {r["id"]: r["simhash"] for r in D.simhash(docs, "doc_id", "text", bits=40).collect()}
    assert s32 and {i: v >> 8 for i, v in s40.items()} == s32
    out = D.simhash_near_duplicates(
        docs, "doc_id", "text", n=10**6, max_distance=3  # width 14
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert pairs[(1, 4)] == 0


def test_ngram_jaccard(docs):
    out = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=4, kind="word", threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs


def test_cosine_topk_exact(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)]
        + [(9, [0.9, 0.1, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = S.cosine_topk(vecs, "vec_id", "embedding", [1.0, 0.0, 0.0, 0.0], k=2)
    rows = [(r["id"], r["cos_sim"]) for r in out.collect()]
    assert rows[0] == (0, 1.0)
    assert rows[1][0] == 9


def test_lsh_bucket_groups_similar_vectors(spark):
    planes = S.random_hyperplanes(4, 3, seed=7)
    vecs = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [1.01, 2.0, 3.0]), (3, [-1.0, -2.0, -3.0])],
        ["vec_id", "embedding"],
    )
    b = {r["id"]: r["bucket"] for r in S.lsh_bucket(vecs, "vec_id", "embedding", planes).collect()}
    assert b[1] == b[2]  # near-identical vectors share a bucket
    assert b[1] != b[3]  # antipodal vector lands elsewhere


def test_language_id_und_for_gibberish(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, "zzz qqq www")], ["doc_id", "text"]
    )
    out = {r["id"]: r["predicted_lang"] for r in TA.language_id(df, "doc_id", "text").collect()}
    assert out[1] == "en"
    assert out[2] == "und"


def test_quality_score_monotonic(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox is a good dog and it runs"), (2, "a a a a a a a a a a")],
        ["doc_id", "text"],
    )
    out = {r["id"]: r["quality_score"] for r in TA.quality_score(df, "doc_id", "text").collect()}
    assert out[1] > out[2]  # repetitive text scores lower


def test_token_counts_exact(spark):
    df = spark.createDataFrame([(1, "abcd ef ghijklmn")], ["doc_id", "text"])
    r = TA.token_counts(df, "doc_id", "text").collect()[0]
    assert r["n_ws_tokens"] == 3
    # ceil(4/4)+ceil(2/4)+ceil(8/4) = 1+1+2
    assert r["n_bpe_ish_tokens"] == 4


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "world hello")],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in TA.fingerprint(df, "doc_id", "text").collect()}
    assert out[1]["md5_raw"] != out[2]["md5_raw"]
    assert out[1]["md5_normalized"] == out[2]["md5_normalized"]
    assert out[2]["token_set_fp"] == out[3]["token_set_fp"]  # order-insensitive


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame([(1, "x" * 100), (2, "y" * 50)], ["doc_id", "text"])
    meta = {r["id"]: r for r in MM.decode_metadata(MM.attach_payload(df, "doc_id", "text")).collect()}
    assert meta[1]["width"] == 100 and meta[1]["height"] == 100
    assert meta[1]["byte_len"] == 4 + 4 + 4 + 100
    assert meta[1]["magic_ok"] and meta[2]["magic_ok"]


def test_binary_file_ingestion(spark, tmp_path):
    """Raw media files enter via the binaryFile source: (path, mtime,
    length, content) rows, glob-filtered at the listing, feeding the
    same mapInPandas decode chain as parquet-resident payloads."""
    from spark_query_engine.operators.multimodal import MAGIC

    for i in range(3):
        body = b"\xab" * (10 + i)
        (tmp_path / f"img_{i}.bin").write_bytes(
            MAGIC + b"0640" + b"0480" + body
        )
    (tmp_path / "ignore.txt").write_text("not media")

    files = MM.read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = files.orderBy("path").collect()
    assert [r["length"] for r in rows] == [22, 23, 24]
    assert all(r["content"].startswith(MAGIC) for r in rows)

    payloads = files.select(
        F.monotonically_increasing_id().alias("id"),
        F.col("content").alias("payload"),
    )
    meta = MM.decode_metadata(payloads).collect()
    assert all(m["magic_ok"] and m["width"] == 640 for m in meta)


def test_decode_image_codec_contract():
    payload = b"QEIM0100" + b"0050" + b"body"
    assert MM.decode_image(payload, codec="fake") == (50, 100)
    assert MM.decode_image(payload) == (50, 100)  # auto sniffs QEIM
    with pytest.raises(NotImplementedError):
        MM.decode_image(payload, codec="real")  # compressed formats
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\xff\xd8jpegdata")  # auto → unknown → gated
    with pytest.raises(ValueError):
        MM.decode_image(b"XXXX00100050", codec="fake")


def test_ivf_assign_and_topk(spark):
    # 3 well-separated directions; ids 0-2 double as centroids
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.0, 0.0, 1.0]),
        (3, [0.9, 0.1, 0.0]),   # → centroid 0
        (4, [0.1, 0.95, 0.0]),  # → centroid 1
        (5, [0.0, 0.2, 0.8]),   # → centroid 2
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    assigned = {
        r["id"]: r["centroid"]
        for r in S.ivf_assign(df, "vec_id", "embedding", n_centroids=3).collect()
    }
    assert assigned[3] == 0 and assigned[4] == 1 and assigned[5] == 2
    # probe from id 3: its list is centroid 0's {0, 3} → neighbor is 0
    top = S.ivf_topk(df, "vec_id", "embedding", query_id=3, n_centroids=3, k=2).collect()
    assert [r["id"] for r in top] == [0]


def _ivf_assign_window(df, n_centroids):
    """The rank-1 window formulation ``S.ivf_assign`` replaced: score
    every (vector, centroid) pair, keep the best per id by
    (cent_sim DESC, centroid)."""
    from pyspark.sql import Window

    from spark_query_engine.operators.dedup import cosine

    v = df.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    cents = v.where(F.col("id") < n_centroids).select(
        F.col("id").alias("centroid"), F.col("vec").alias("cvec")
    )
    scored = v.crossJoin(cents).select(
        "id", "vec", "centroid", F.expr(f"round({cosine('vec', 'cvec')}, 6)").alias("cent_sim")
    )
    w = Window.partitionBy("id").orderBy(F.col("cent_sim").desc(), F.col("centroid"))
    return scored.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")


def _ivf_rows(df):
    import math

    def norm(x):
        return "nan" if isinstance(x, float) and math.isnan(x) else x

    return sorted(
        ((r["id"], r["centroid"], norm(r["cent_sim"])) for r in df.collect()),
        key=repr,
    )


def test_ivf_assign_ties_pick_lowest_centroid(spark):
    """Equal ROUNDED cosines tie, and a tie goes to the lower centroid
    id, exactly as the rank-1 window did: [1,1] sits between centroids
    0 and 1, and [2,1e-7] differs from centroids 0 and 2 only past the
    sixth decimal."""
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 1e-7]),
        (3, [1.0, 1.0]),
        (4, [2.0, 1e-7]),
        (5, [-1.0, -1.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = _ivf_rows(S.ivf_assign(df, "vec_id", "embedding", n_centroids=3))
    assert got == _ivf_rows(_ivf_assign_window(df, 3))
    by_id = {i: c for i, c, _ in got}
    assert by_id[3] == 0 and by_id[4] == 0 and by_id[2] == 0


def test_ivf_assign_null_nan_and_zero_norm_match_window(spark):
    """Degenerate inputs keep the window's answers. A NULL embedding
    scores NULL, which sorts last: a NULL-vector centroid never wins,
    and a NULL vector gets the lowest id with a NULL similarity. A NaN
    element scores NaN, which sorts above every number: a NaN vector
    gets the lowest id, and a NaN centroid draws every vector. A
    zero-norm vector divides by zero: under ANSI both formulations
    raise; with ANSI off it scores NULL like a NULL embedding."""
    from pyspark.errors import ArithmeticException

    nan = float("nan")
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0]), (3, [nan, 1.0]),
         (4, None), (5, [0.3, 0.9]), (6, [nan, 0.0])],
        "vec_id long, embedding array<double>",
    )
    for k in (1, 2, 3, 4):
        got = _ivf_rows(S.ivf_assign(df, "vec_id", "embedding", n_centroids=k))
        assert got == _ivf_rows(_ivf_assign_window(df, k)), k
    by_id = {i: (c, s) for i, c, s in
             _ivf_rows(S.ivf_assign(df, "vec_id", "embedding", n_centroids=3))}
    assert by_id[4] == (0, None)  # NULL vector: lowest id, NULL score
    assert by_id[5] == (2, 0.948683)  # NULL-vector centroid 1 never wins
    assert by_id[6] == (0, "nan")  # NaN vector: lowest id
    by_id = {i: c for i, c, _ in
             _ivf_rows(S.ivf_assign(df, "vec_id", "embedding", n_centroids=4))}
    assert by_id[0] == 3 and by_id[5] == 3  # the NaN centroid 3 draws all

    zero = df.where("vec_id NOT IN (3, 6)").union(
        spark.createDataFrame([(7, [0.0, 0.0])], df.schema)
    )
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        for build in (
            lambda: S.ivf_assign(zero, "vec_id", "embedding", n_centroids=3),
            lambda: _ivf_assign_window(zero, 3),
        ):
            with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
                build().collect()
        spark.conf.set(key, "false")
        for k in (3, 8):
            got = _ivf_rows(S.ivf_assign(zero, "vec_id", "embedding", n_centroids=k))
            assert got == _ivf_rows(_ivf_assign_window(zero, k)), k
        by_id = {i: (c, s) for i, c, s in
                 _ivf_rows(S.ivf_assign(zero, "vec_id", "embedding", n_centroids=8))}
        assert by_id[7] == (0, None)  # zero-norm vector: NULL scores, lowest id
        assert by_id[5] == (5, 1.0)  # zero-norm centroid 7 never wins
    finally:
        spark.conf.set(key, before)


def test_ivf_assign_plans_no_window(spark):
    """The assignment is an argmax over one broadcast codebook row: no
    Window, no shuffle on id; an empty codebook assigns nothing."""
    from spark_query_engine.plans import format_plan

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], "vec_id long, embedding array<double>"
    )
    assigned = S.ivf_assign(df, "vec_id", "embedding", n_centroids=3)
    plan = format_plan(assigned, "physical")
    assert "Window" not in plan and "BroadcastExchange" in plan
    assert S.ivf_assign(df, "vec_id", "embedding", n_centroids=0).count() == 0


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        [(i, i % 3) for i in range(100)] + [(900, 7)], ["row_id", "k"]
    )
    small = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (2, "c2")], ["k2", "v"]
    )
    from spark_query_engine.operators import skew

    got = sorted(
        (r["row_id"], r["v"])
        for r in skew.salted_join(big, small, "k", "k2", salt=4).collect()
    )
    want = sorted(
        (r["row_id"], r["v"])
        for r in big.join(small, big.k == small.k2).collect()
    )
    assert got == want  # multiplicity preserved (k=2 matches twice)

    left = sorted(
        (r["row_id"], r["v"])
        for r in skew.salted_join(big, small, "k", "k2", salt=4, how="left").collect()
    )
    want_left = sorted(
        (r["row_id"], r["v"])
        for r in big.join(small, big.k == small.k2, "left").collect()
    )
    assert left == want_left  # unmatched big rows appear exactly once

    with pytest.raises(ValueError):
        skew.salted_join(big, small, "k", "k2", how="full")


def test_multimodal_resize_and_features(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "abc")], ["doc_id", "text"]
    )
    payloads = MM.attach_payload(df, "doc_id", "text")
    resized = {r["id"]: bytes(r["payload"]) for r in MM.resize(payloads, 64, 32).collect()}
    assert resized[1][:12] == b"QEIM00640032"
    assert resized[1][12:] == b"hello world"  # body untouched by the fake
    feats = {r["id"]: r["features"] for r in MM.extract_features(payloads, dim=4).collect()}
    assert len(feats[1]) == 4
    assert abs(sum(feats[1]) - 1.0) < 1e-9  # L1-normalized
    assert all(v >= 0 for v in feats[1])


def test_connected_components_clusters(spark):
    # two chains and an isolated pair: {1,2,3,9}, {5,6}, {7,8}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 7), (9, 1)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["component"]
        for r in D.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5, 7: 7, 8: 7}


def test_ngram_jaccard_hashed_matches_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different text with no overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    hashed = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.5, hash_shingles=True
        ).collect()
    }
    assert exact == hashed and len(exact) == 1


def test_pq_encode_and_adc(spark):
    """PQ on a hand-built 4-dim corpus (2 subspaces × 2 dims, codes
    from ids 0-1): codes pick the nearest sub-centroid per subspace,
    and ADC distance is the sum of query-to-chosen-centroid d² per
    subspace."""
    from spark_query_engine.operators import similarity as S

    vecs = [
        (0, [0.0, 0.0, 1.0, 1.0]),
        (1, [1.0, 1.0, 0.0, 0.0]),
        (2, [0.1, 0.0, 0.9, 1.0]),   # sub0→code0, sub1→code0
        (3, [0.9, 1.0, 0.1, 0.0]),   # sub0→code1, sub1→code1
    ]
    df = spark.createDataFrame(vecs, ["id", "vec"])
    v = df.select("id", F.transform("vec", lambda x: x.cast("double")).alias("vec"))
    codebooks = [
        [[0.0, 0.0], [1.0, 1.0]],  # subspace 0 (dims 0-1), codes 0,1
        [[1.0, 1.0], [0.0, 0.0]],  # subspace 1 (dims 2-3), codes 0,1
    ]
    enc = {r["id"]: list(r["codes"]) for r in
           S.pq_encode(v, codebooks, sub_dim=2).collect()}
    assert enc[0] == [0, 0] and enc[1] == [1, 1]
    assert enc[2] == [0, 0] and enc[3] == [1, 1]

    # query = vec 0 exactly → ADC to codes [0,0] is 0; to [1,1] is 4
    top = S.pq_adc_topk(
        S.pq_encode(v, codebooks, sub_dim=2),
        codebooks, [0.0, 0.0, 1.0, 1.0], sub_dim=2, k=4, exclude_id=0,
    ).collect()
    got = {r["id"]: r["adc_dist"] for r in top}
    assert got[2] == 0.0  # same codes as the query
    assert got[3] == 4.0  # opposite codes: 2.0 per subspace


def test_extract_features_arrow_matches_pandas(spark):
    """The mapInArrow featurizer must produce byte-identical features
    to the mapInPandas one — same contract, cheaper boundary."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "abc"), (3, "")], ["doc_id", "text"]
    )
    payloads = MM.attach_payload(df, "doc_id", "text")
    a = {r["id"]: r["features"]
         for r in MM.extract_features_arrow(payloads, dim=8).collect()}
    p = {r["id"]: r["features"]
         for r in MM.extract_features(payloads, dim=8).collect()}
    assert a == p


def test_ppm_codec_real_decode_roundtrip(spark, sf_dir):
    """The PPM (P6) path is a REAL image codec, not the QEIM fake:
    payloads built from document text must decode with the pure-numpy
    reader to exact pixel values (utf-8 bytes cycled into an 8x8 RGB
    tile), survive a distributed nearest-neighbor resize matching a
    sequential numpy reference, and sniff correctly through
    decode_image's auto branch."""
    import numpy as np

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(20)
    )
    payloads = MM.attach_ppm_payload(docs, "doc_id", "text")
    rows = {r["id"]: bytes(r["payload"]) for r in payloads.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(rows) == set(texts)

    for i, payload in rows.items():
        img = MM.decode_image(payload)  # auto-sniffs P6 → real decode
        assert img.shape == (8, 8, 3) and img.dtype == np.uint8
        want = np.resize(
            np.frombuffer(texts[i].encode(), dtype=np.uint8), 8 * 8 * 3
        ).reshape(8, 8, 3)
        assert (img == want).all()

    resized = {
        r["id"]: bytes(r["payload"])
        for r in MM.resize_ppm(payloads, 4, 4).collect()
    }
    for i, payload in resized.items():
        img = MM.decode_image(payload)
        ref = MM.resize_pixels(MM.decode_ppm(rows[i]), 4, 4)
        assert img.shape == (4, 4, 3)
        assert (img == ref).all()

    # the fake container still routes through auto, and compressed
    # formats still refuse without a library
    assert MM.decode_image(MM.MAGIC + b"00100020rest") == (20, 10)
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\x89PNG....")


def test_ppm_decode_whitespace_leading_pixels():
    """Regression: the P6 header ends with exactly ONE whitespace byte
    before the raster, so images whose first pixel bytes are ASCII
    whitespace (9-13, 32) must decode losslessly — a greedy
    split(maxsplit=4) would swallow them and shift every pixel."""
    import numpy as np

    for lead in (0x20, 0x09, 0x0A, 0x0D):
        pixels = np.full((2, 2, 3), lead, dtype=np.uint8)
        pixels[1, 1] = (1, 2, 3)
        payload = MM.encode_ppm(2, 2, pixels)
        out = MM.decode_ppm(payload)
        assert (out == pixels).all(), f"lost leading byte 0x{lead:02x}"


def test_gap_fill_locf_multi_count_bucket(spark):
    """Regression: '15 minutes' must width-bucket on epoch floors —
    date_trunc('minute') would shrink buckets to 1 minute while the
    grid steps 15, producing grid rows that never join an observation
    (every bucket 'missing'). Also pins the filled-grid semantics."""
    import datetime as dt

    from spark_query_engine.operators.timeseries import gap_fill_locf

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("s1", t0, 10.0),
        ("s1", t0 + dt.timedelta(minutes=14), 5.0),
        ("s1", t0 + dt.timedelta(minutes=31), 7.0),
    ]
    df = spark.createDataFrame(rows, "series string, ts timestamp_ntz, v double")
    out = {
        r["bucket"]: (r["observed"], r["value_filled"])
        for r in gap_fill_locf(df, "series", "ts", "v", "15 minutes").collect()
    }
    assert out == {
        t0: (True, 15.0),
        t0 + dt.timedelta(minutes=15): (False, 15.0),
        t0 + dt.timedelta(minutes=30): (True, 7.0),
    }

    import pytest as _pytest

    with _pytest.raises(ValueError):
        gap_fill_locf(df, "series", "ts", "v", "3 months")


def test_wav_codec_real_roundtrip_and_stdlib_parse():
    """The WAV encoder emits canonical RIFF/PCM bytes: our decoder
    roundtrips exactly, the STDLIB ``wave`` module (an independent
    implementation) parses the same payload to identical frames, and
    the chunk-walking decoder survives an interposed LIST chunk the
    fixed-offset parsers choke on."""
    import io
    import struct
    import wave

    import numpy as np

    from spark_query_engine.operators.multimodal import decode_wav, encode_wav

    s = ((np.arange(333) * 97) % 4001 - 2000).astype("<i2")
    payload = encode_wav(8000, s)

    rate, got = decode_wav(payload)
    assert rate == 8000 and (got == s).all()

    w = wave.open(io.BytesIO(payload))
    assert (
        w.getframerate(),
        w.getnchannels(),
        w.getsampwidth(),
        w.getnframes(),
    ) == (8000, 1, 2, 333)
    frames = np.frombuffer(w.readframes(333), dtype="<i2")
    assert (frames == s).all()

    # interpose a LIST chunk between fmt and data: still decodes
    fmt_end = 12 + 8 + 16
    lst = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = payload[:fmt_end] + lst + payload[fmt_end:]
    patched = (
        patched[:4]
        + struct.pack("<I", len(patched) - 8)
        + patched[8:]
    )
    rate2, got2 = decode_wav(patched)
    assert rate2 == 8000 and (got2 == s).all()


def test_distributed_pca_projection(spark, sf_dir):
    """Classical distributed PCA end-to-end: the covariance relation
    (hash-verified separately as vec_covariance_matrix) collects to a
    d×d driver matrix — MODEL state, not data — numpy eigendecomposes
    it, and the top-2 eigenvectors broadcast back as literals to
    project the corpus in one scan. Checks the linear-algebra
    contract: per-component projected variance equals its eigenvalue,
    and the two components are uncorrelated."""
    import numpy as np
    from pyspark.sql import functions as F

    from spark_query_engine.operators.clustering import covariance_matrix

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cov_rows = covariance_matrix(emb, "vec_id", "embedding").collect()
    d = 64
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r["i"] - 1, r["j"] - 1] = r["cov"]
        C[r["j"] - 1, r["i"] - 1] = r["cov"]
    evals, evecs = np.linalg.eigh(C)
    order = np.argsort(evals)[::-1]
    top = [[float(x) for x in evecs[:, order[c]]] for c in range(2)]

    v = emb.select(
        F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    proj = v.select(
        *[
            F.aggregate(
                F.zip_with("vec", F.lit(top[c]), lambda x, w: x * w),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias(f"pc{c}")
            for c in range(2)
        ]
    )
    stats = proj.agg(
        F.var_pop("pc0").alias("v0"),
        F.var_pop("pc1").alias("v1"),
        F.covar_pop("pc0", "pc1").alias("c01"),
    ).collect()[0]
    lam0, lam1 = float(evals[order[0]]), float(evals[order[1]])
    # 6dp quantization of cov entries bounds the eigen perturbation
    assert abs(stats["v0"] - lam0) < 1e-3
    assert abs(stats["v1"] - lam1) < 1e-3
    assert abs(stats["c01"]) < 1e-3
    assert lam0 >= lam1 > 0


def test_cp_config_measured_curve():
    """cp_config picks the cheapest MEASURED (bands, rank) meeting the
    recall target, conservatively calibrated at the highest measured
    threshold <= the requested one (SCALING.md round-5 curve); the
    third element is the corpus-sized key arity (1 without n, or for
    rank-2 multiprobe configs)."""
    from spark_query_engine.operators.similarity import cp_config

    # hardest regime: recall 1.0 at mid-threshold needs the full grid
    assert cp_config(0.45, 1.0) == (32, 2, 1)
    # relaxing recall buys candidate-fraction headroom
    assert cp_config(0.45, 0.95) == (16, 2, 1)
    assert cp_config(0.45, 0.80) == (8, 2, 1)
    # production near-dup thresholds prune geometrically
    assert cp_config(0.6, 1.0) == (16, 2, 1)
    assert cp_config(0.8, 1.0) == (8, 2, 1)
    assert cp_config(0.999, 1.0) == (4, 1, 1)
    # between calibration points: use the harder (lower) threshold
    assert cp_config(0.7, 1.0) == (16, 2, 1)
    # below the lowest calibration: fall back to its row
    assert cp_config(0.3, 1.0) == (32, 2, 1)
    # rank-1 configs grow key arity with the corpus (round-6 rule)
    assert cp_config(0.999, 1.0, n=1000) == (4, 1, 1)
    assert cp_config(0.999, 1.0, n=100_000) == (4, 1, 2)
    # rank-2 multiprobe never takes arity (opposite-regime knobs)
    assert cp_config(0.45, 1.0, n=10**9) == (32, 2, 1)


def test_cp_arity_integer_rule():
    """cp_arity = smallest m >= 1 with n*bands <= 64*(2d)^m, cap 5 —
    EXACT integer arithmetic so the SQL oracle replays it without
    float-log boundary cases. Boundary rows pinned explicitly."""
    from spark_query_engine.operators.similarity import cp_arity

    d = 64  # 2d = 128; occupancy 64
    assert cp_arity(1, 4, d) == 1
    assert cp_arity(2048, 4, d) == 1      # n*bands = 8192 = 64*128
    assert cp_arity(2049, 4, d) == 2      # one past the boundary
    assert cp_arity(4000, 4, d) == 2      # the sf0.1 scaled corpus
    assert cp_arity(262_144, 4, d) == 2   # = 64*128^2 exactly
    assert cp_arity(262_145, 4, d) == 3
    assert cp_arity(10**9, 4, d) == 4
    assert cp_arity(10**18, 4, d) == 5    # cap


def test_integer_moment_queries_are_run_deterministic(spark, sf_dir):
    """The round-5 float-discipline contract: queries rebuilt on exact
    integer moments must produce BIT-IDENTICAL values across repeated
    runs (the round-4 vec_covariance_matrix red row was a
    partition-order float flip at a rounding boundary — by
    construction impossible now). Two full executions, exact value
    compare, no tolerance."""
    from spark_query_engine.queries import queries

    qs = queries()
    for name in (
        "vec_covariance_matrix",
        "corpus_cluster_cohesion",
        "corpus_dsir_select",
        "events_trend_slope",
    ):
        fn = qs[name]
        a = sorted(map(tuple, fn(spark, sf_dir).collect()))
        spark.catalog.clearCache()
        b = sorted(map(tuple, fn(spark, sf_dir).collect()))
        spark.catalog.clearCache()
        assert a == b, f"{name}: values changed between runs"


def test_global_rank_matches_single_partition_window(spark):
    """Two-pass distributed ranking == the naive single-partition
    row_number, on data with enough rows to span many range
    partitions."""
    import random

    from pyspark.sql import functions as F

    from spark_query_engine.operators.linkage import global_rank

    rng = random.Random(7)
    rows = [(f"k{rng.randrange(10**6):06d}", i) for i in range(5000)]
    df = spark.createDataFrame(rows, "key string, id long")
    got = {
        (r["key"], r["id"]): r["rank"]
        for r in global_rank(df, ["key", "id"], num_partitions=16).collect()
    }
    want = {
        (k, i): rank
        for rank, (k, i) in enumerate(sorted((k, i) for k, i in rows), start=1)
    }
    assert got == want


def test_sorted_neighborhood_pairs_equal_theta_join(spark):
    """Bucketized band join produces EXACTLY the 0 < gap <= w pair set
    (each pair once), for a window that doesn't divide n evenly."""
    from pyspark.sql import functions as F

    from spark_query_engine.operators.linkage import (
        global_rank,
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame(
        [(f"v{i:03d}",) for i in range(97)], "key string"
    )
    ranked = global_rank(df, ["key"], num_partitions=8).localCheckpoint()
    w = 7
    got = sorted(
        (r["a_key"], r["b_key"], r["rank_gap"])
        for r in sorted_neighborhood_pairs(ranked, w).collect()
    )
    rk = {r["key"]: r["rank"] for r in ranked.collect()}
    want = sorted(
        (a, b, rk[b] - rk[a])
        for a in rk
        for b in rk
        if 0 < rk[b] - rk[a] <= w
    )
    assert got == want


def test_personalized_pagerank_mass_concentrates_at_seeds(spark):
    """PPR on a barbell of two 3-cliques joined by one bridge: seed
    node 0 sits in clique A, so every clique-A node must outrank its
    degree-twin in clique B (teleport mass restarts only at 0), and
    all scores are nonnegative with seeds flagged correctly."""
    from spark_query_engine.operators.graph import personalized_pagerank

    # clique A: 0-1-2 (0 is the only seed: 0 % 5 == 0); bridge 2-3;
    # clique B: 3-4-6 (no multiples of 5)
    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (3, 6), (4, 6)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = personalized_pagerank(pairs, "id_a", "id_b", seed_mod=5)
    rows = {r["id"]: (r["is_seed"], r["pr"]) for r in out.collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 6}
    assert rows[0][0] == 1
    assert all(f == 0 for i, (f, _) in rows.items() if i != 0)
    assert all(pr >= 0 for _, pr in rows.values())
    # seed-side nodes dominate their far-side degree twins
    assert rows[0][1] > rows[4][1]
    assert rows[1][1] > rows[4][1]
    assert rows[2][1] > rows[3][1]  # bridge endpoints: near-seed wins
    # total mass stays bounded by 1 (teleport + damped spread)
    assert sum(pr for _, pr in rows.values()) <= 1.0 + 1e-6


def test_kmv_estimate_within_theory_error(spark):
    """KMV estimator sanity on a synthetic set of known cardinality:
    est = (k-1)*2^48/kth_min over md5 hashes of 20k distinct strings
    must land within 4/sqrt(k) relative error (4 sigma)."""
    from pyspark.sql import Window

    n, k = 20000, 256
    df = spark.range(n).select(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("id"))), 1, 12),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    ).distinct()
    w = Window.orderBy("h")
    sk = df.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )
    kth = sk.agg(F.max("h")).collect()[0][0]
    est = (k - 1) * float(1 << 48) / kth
    assert abs(est - n) / n < 4.0 / (k ** 0.5)


def test_operator_caches_release_when_result_dropped(spark, docs):
    """Persist-lifecycle contract (round-5 verdict item): operators
    that persist internals (cp_keys' rotated coordinates,
    cp_near_duplicates' keys/candidates, minhash's shingles/
    signatures) must release them once the caller drops the result —
    WITHOUT requiring spark.catalog.clearCache(). Double invocation
    must also not emit 'already cached' re-cache warnings, which is
    equivalent to the cache actually having been dropped in between."""
    import gc

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "test requires a clean cache"

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 13) - 6.0 for j in range(8)])
         for i in range(40)],
        "id bigint, vec array<double>",
    )
    for _ in range(2):  # double invocation: second run must re-cache fresh
        out = S.cp_near_duplicates(
            vecs, "id", "vec", threshold=0.8, bands=4, dim=8
        )
        out.collect()
        assert not cm.isEmpty()  # caches in use while result is alive
        del out
        gc.collect()
        assert cm.isEmpty(), "cp caches must release when result dropped"

    out = D.minhash_near_duplicates(
        spark.createDataFrame(DOCS, ["doc_id", "text"]),
        "doc_id", "text", shingle_k=3, num_hashes=16, bands=4, threshold=0.5,
    )
    out.collect()
    assert not cm.isEmpty()
    del out
    gc.collect()
    assert cm.isEmpty(), "minhash caches must release when result dropped"


def test_compositional_caches_release_via_carry(spark):
    """carry_caches chains cache lifetime through a composition: a
    query that derives from a wrapped operator result must keep the
    operator's caches alive until the OUTER result is dropped (so the
    collect reuses them), then release everything."""
    import gc

    from spark_query_engine.operators import carry_caches

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    mh = D.minhash_near_duplicates(
        docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        threshold=0.5,
    )
    out = carry_caches(mh.select("id_a", "id_b"), mh)
    del mh
    gc.collect()
    # the intermediate is dead but carried — caches must still be live
    assert not cm.isEmpty(), "carried caches released too early"
    assert out.count() > 0
    del out
    gc.collect()
    assert cm.isEmpty(), "carried caches must release with the outer result"


def test_cosine_pairs_exact_matches_brute_force(spark):
    """The tiled-GEMM kernel must emit EXACTLY the brute-force pair
    set at every tiling — single block, many blocks, ragged last
    block — with the same rounded similarities: the prefilter margin
    makes the GEMM provably lossless w.r.t. the rounded comparison.
    Zero vectors must never qualify (cosine undefined)."""
    import hashlib
    import math

    n, dim, t = 120, 8, 0.45

    def hv(*k):
        return int(
            hashlib.md5(":".join(map(str, k)).encode()).hexdigest()[:8], 16
        )

    rows = [
        (i, [(hv("g", i, j) % 2001 - 1000) / 1000.0 for j in range(dim)])
        for i in range(n)
    ]
    rows.append((n, [0.0] * dim))  # zero vector: excluded by definition
    vecs = spark.createDataFrame(rows, "id bigint, vec array<double>")

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(
            sum(x * x for x in b)
        )
        return d / (na * nb) if na and nb else float("nan")

    brute = sorted(
        (a[0], b[0], round(cos(a[1], b[1]), 6))
        for i, a in enumerate(rows)
        for b in rows[i + 1:]
        if not math.isnan(cos(a[1], b[1])) and round(cos(a[1], b[1]), 6) >= t
    )
    assert brute, "fixture must have qualifying pairs"
    for block_rows in (1000, 37, 7):  # B = 1, 4, 18 (ragged)
        got = sorted(
            (r.id_a, r.id_b, r.cos_sim)
            for r in S.cosine_pairs_exact(
                vecs, "id", "vec", t, n_rows=n + 1, block_rows=block_rows
            ).collect()
        )
        assert got == brute, f"block_rows={block_rows}"
    # a hand-made input: one nearly parallel pair, one orthogonal vector
    small = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.04, 0.0]),  # nearly parallel to 1
            (3, [0.0, 1.0, 0.0]),  # orthogonal
        ],
        "id bigint, vec array<double>",
    )
    pairs = S.cosine_pairs_exact(small, "id", "vec", 0.95, n_rows=3).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]


def test_release_on_drop_rejects_self_reference(spark):
    """weakref.finalize keeps STRONG references to its callback
    arguments, so registering a result as its own cache handle pins
    it alive forever and the finalizer never fires (the round-6
    ``bpe_train`` leak, verified empirically by ADVICE) — the guard
    must refuse the pattern outright."""
    import pytest

    from spark_query_engine.operators import release_on_drop

    df = spark.range(3).persist()
    try:
        with pytest.raises(ValueError, match="own"):
            release_on_drop(df, df)
    finally:
        df.unpersist()


def test_bpe_train_cache_releases_on_drop(spark):
    """``bpe_train`` returns its own persisted token relation (via a
    fresh JVM-plan wrapper): dropping the result must actually
    release the cache — the exact leak the round-6 ADVICE caught."""
    import gc

    from spark_query_engine.operators.textanalysis import bpe_train

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    toks, _merges = bpe_train(docs, "text", rounds=2)
    assert toks.count() > 0
    assert not cm.isEmpty()  # persisted token relation backs the result
    del toks
    gc.collect()
    assert cm.isEmpty(), "bpe token cache must release when result dropped"


def test_cp_bucket_key_arity_shrinks_collisions(spark):
    """The round-6 scaling rule, exercised: arity-m cross-polytope
    bucket keys multiply the key space by (2·dim) per rank, so the
    iid background collision count must DROP as arity grows, while
    exact-duplicate vectors (identical rotated coordinates) keep
    colliding in every band at any arity — recall of exact dups is 1
    by construction."""
    import hashlib

    n, dim, bands = 300, 16, 8

    def hval(*k):
        return int(hashlib.md5(":".join(map(str, k)).encode()).hexdigest()[:8], 16)

    rows = [
        (i, [(hval("v", i, j) % 2001 - 1000) / 1000.0 for j in range(dim)])
        for i in range(n)
    ]
    rows.append((n, list(rows[0][1])))  # planted exact duplicate of id 0
    vecs = spark.createDataFrame(rows, "id bigint, vec array<double>")
    rot = S.cp_rotations(bands, dim)

    def collisions(arity):
        keys = S.cp_bucket_keys(vecs, "id", "vec", rot, arity=arity)
        a, b = keys.alias("a"), keys.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select("a.id", "b.id")
            .distinct()
        )

    c2, c3 = collisions(2), collisions(3)
    n2, n3 = c2.count(), c3.count()
    dup2 = c2.where((F.col("a.id") == 0) & (F.col("b.id") == n)).count()
    dup3 = c3.where((F.col("a.id") == 0) & (F.col("b.id") == n)).count()
    assert dup2 == 1 and dup3 == 1  # exact dup always collides
    assert n3 < n2, f"arity 3 must shrink collisions ({n3} !< {n2})"
    assert n3 >= 1  # the planted dup at minimum


def test_assign_substrates_bit_identical(spark):
    """The r8 GEMM assignment substrate must equal the expression
    substrate bit-for-bit — the exact-verify contract of
    ``assign_to_centroids`` (candidates from a 2e-6-margin BLAS
    prefilter, emitted values from the same 6dp-rounded sequential
    folds). Forces the GEMM path with n_hint regardless of actual
    size, on a corpus engineered with duplicate centroids (forced
    exact ties) and a duplicated seed row."""
    from spark_query_engine.operators import clustering as C

    dim, n, k = 8, 300, 40

    def hval(*parts) -> int:
        import hashlib

        return int(
            hashlib.md5(":".join(map(str, parts)).encode()).hexdigest()[:8],
            16,
        )

    rows = [
        (
            i,
            [
                round((hval("av", i, j) % 2001 - 1000) / 1000.0, 6)
                for j in range(dim)
            ],
        )
        for i in range(n)
    ]
    # (a zero vector raises DIVIDE_BY_ZERO under ANSI in BOTH
    # substrates — the GEMM path's all-candidates fallback re-runs the
    # same exact fold — so equality is only assertable on finite rows)
    rows.append((n, list(rows[3][1])))  # exact dup of a centroid seed
    v = spark.createDataFrame(rows, "id bigint, vec array<double>")
    cents = [r["vec"] for r in v.where(f"id < {k}").orderBy("id").collect()]
    cents.append(list(cents[0]))  # duplicate centroid: forced exact tie

    expr = C._assign_expr(v, cents).orderBy("id").collect()
    gemm = (
        C.assign_to_centroids(v, cents, n_hint=10**9)
        .orderBy("id")
        .collect()
    )
    assert len(expr) == len(gemm) == n + 1
    for a, b in zip(expr, gemm):
        assert a["id"] == b["id"]
        assert a["centroid"] == b["centroid"], (a, b)
        sa, sb = a["cent_sim"], b["cent_sim"]
        assert (sa != sa and sb != sb) or sa == sb, (a, b)


def test_lsh_plane_superset_prefix_stable():
    """The r8 24-plane LSH superset must be PREFIX-STABLE: its first
    8 rows bit-equal the historical 8-plane set (numpy RandomState
    fills row-major), so sf0.01/sf0.1 bucket assignments — and the
    committed driver rows — are unchanged. Also pins the footer-sized
    plane-count rule at the test scales and in the log regime."""
    from spark_query_engine.operators import similarity as S
    from spark_query_engine.queries.similarity import _MAX_PLANES, _n_planes

    assert S.random_hyperplanes(n_planes=_MAX_PLANES, dim=64, seed=7)[:8] == (
        S.random_hyperplanes(n_planes=8, dim=64, seed=7)
    )
    assert _n_planes(500) == 8      # sf0.01 historical
    assert _n_planes(2000) == 8     # sf0.1 historical
    assert _n_planes(20000) == 9    # sf1: 313 target-64 buckets -> 2^9
    assert _n_planes(10**9) == 24   # superset bound: 2^24*64 ≈ 1e9
    assert 10**9 / 2 ** _n_planes(10**9) < 64  # bucket stays bounded


def test_ivf_nlist_regimes():
    """The IVF list-count rule must hold the target-64 regime while
    small, switch to the FAISS 4·√n cap past the crossover (n=65,536
    — beyond the parquet test scales, so the asymptotic branch is
    pinned here as a pure function), and agree with the oracle's
    scalar-subquery formula shape at the boundary."""
    import math

    from spark_query_engine.queries.semantic import _ivf_nlist

    assert _ivf_nlist(500) == 8          # floor (sf0.01 historical k)
    assert _ivf_nlist(2000) == 32        # target-64 regime (sf0.1)
    assert _ivf_nlist(20000) == 313      # target-64 regime (sf1)
    assert _ivf_nlist(65536) == 1024     # exact crossover: n/64 == 4*sqrt(n)
    assert _ivf_nlist(10**6) == 4000     # sqrt regime: 4*ceil(sqrt(1e6))
    assert _ivf_nlist(10**9) == 126492   # 4*ceil(sqrt(1e9)) << n/64
    for n in (500, 2000, 20000, 65536, 10**6):
        assert _ivf_nlist(n) == max(
            8, min((n + 63) // 64, 4 * math.ceil(math.sqrt(n)))
        )
    # probe size n/nlist stays sublinear: 64 flat, then ~sqrt(n)/4
    assert 10**9 / _ivf_nlist(10**9) < 8000


def test_kmeans_fit_sample_cap(spark):
    """``fit_frac`` (the FAISS max_points_per_centroid discipline for
    100 TB fits) must (a) be a no-op at 1.0, and (b) at 0.5 equal a
    fit over the manually md5-filtered relation — i.e. the cap is
    EXACTLY the documented deterministic coin, seeds always included,
    and only the training scans see it."""
    import hashlib

    from pyspark.sql import functions as F

    from spark_query_engine.operators import clustering as C

    dim, n, k = 4, 120, 4
    rows = [
        (
            i,
            [
                round(
                    (
                        int(
                            hashlib.md5(f"fv:{i}:{j}".encode()).hexdigest()[:8],
                            16,
                        )
                        % 2001
                        - 1000
                    )
                    / 1000.0,
                    6,
                )
                for j in range(dim)
            ],
        )
        for i in range(n)
    ]
    v = spark.createDataFrame(rows, "id bigint, vec array<double>")
    full = C.kmeans_fit(spark, v, k=k, iters=2)
    assert C.kmeans_fit(spark, v, k=k, iters=2, fit_frac=1.0) == full

    def coin(i: int) -> float:
        return (
            int(hashlib.md5(f"kmfit:{i}".encode()).hexdigest()[:8], 16)
            / 4294967296.0
        )

    manual = v.where(
        (F.col("id") < k)
        | F.col("id").isin([i for i in range(n) if coin(i) < 0.5])
    )
    capped = C.kmeans_fit(spark, v, k=k, iters=2, fit_frac=0.5)
    assert capped == C.kmeans_fit(spark, manual, k=k, iters=2)
    assert capped != full  # the cap actually bit on this corpus


def test_nested_lit_equals_f_lit(spark):
    """An ``F.expr(nested_sql(...))`` literal (one parse, the form the
    PQ and k-means folds splice) must produce the exact value F.lit
    produces element-by-element — including exponent-notation reprs
    (1e-06) and negatives — at any nesting depth."""
    from pyspark.sql import functions as F

    from spark_query_engine.operators import nested_sql

    flat = [1e-06, -1e-06, 0.0, -0.5, 123456.654321, 1e300]
    nested = [[[0.1, -0.25], [1e-06, 2.5e-07]], [[-1e20, 3.0], [7.0, -0.0]]]
    r = (
        spark.range(1)
        .select(
            F.lit(flat).alias("f1"),
            F.expr(nested_sql(flat)).alias("n1"),
            F.lit(nested).alias("f2"),
            F.expr(nested_sql(nested)).alias("n2"),
        )
        .collect()[0]
    )
    assert r["f1"] == r["n1"]
    assert r["f2"] == r["n2"]


def test_hot_shingle_guard_batch_paths(spark):
    """r10: the batch ``max_shingle_df`` guard (minhash + ngram paths)
    had no batch-side exercise — only the streaming twin's
    ``hot_shingles`` ran. Boilerplate-driven pairs must disappear
    under the guard while content near-dups survive, on BOTH paths,
    and the guarded Jaccard must equal a python reference computed on
    the guarded shingle sets."""
    boiler = " ".join(f"b{i}" for i in range(10))  # 8 boiler 3-shingles
    rows = [
        (1, boiler + " u1 u2"),
        (2, boiler + " u3 u4"),
        (5, boiler + " u5 u6"),  # boiler df=3 -> dropped at max_df=2
        (3, "x1 x2 x3 x4 x5 x6 x7"),
        (4, "x1 x2 x3 x4 x5 x6 x7"),  # true near-dup of 3, no boiler
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def ref_pairs(k, max_df, threshold):
        sh = {
            i: {
                " ".join(t.split()[j : j + k])
                for j in range(len(t.split()) - k + 1)
            }
            for i, t in rows
        }
        from collections import Counter

        dfreq = Counter(s for ss in sh.values() for s in ss)
        if max_df is not None:
            sh = {
                i: {s for s in ss if dfreq[s] <= max_df}
                for i, ss in sh.items()
            }
        out = {}
        ids = sorted(sh)
        for ai, a in enumerate(ids):
            for b in ids[ai + 1 :]:
                inter = len(sh[a] & sh[b])
                union = len(sh[a] | sh[b])
                if union and inter / union >= threshold:
                    out[(a, b)] = round(inter / union, 6)
        return out

    # unguarded: the boiler triangle (1,2),(1,5),(2,5) qualifies at
    # 0.6 purely from boilerplate, next to the true pair (3,4)
    want_raw = ref_pairs(3, None, 0.6)
    assert set(want_raw) == {(1, 2), (1, 5), (2, 5), (3, 4)}
    got_raw = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_near_duplicates(
            df, "doc_id", "text", shingle_k=3,
            num_hashes=16, bands=16, threshold=0.6,
        ).collect()
    }
    assert got_raw == want_raw

    # guarded: boilerplate pairs gone, the content pair intact
    want = ref_pairs(3, 2, 0.6)
    assert set(want) == {(3, 4)}
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_near_duplicates(
            df, "doc_id", "text", shingle_k=3,
            num_hashes=16, bands=16, threshold=0.6,
            max_shingle_df=2,
        ).collect()
    }
    assert got == want

    # the exact ngram path applies the same definition (n=3 here so
    # the same shingle sets are in play)
    got_ngram = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, kind="word", threshold=0.6,
            max_shingle_df=2,
        ).collect()
    }
    assert got_ngram == want


def test_cut_lineage_reliable_path(spark, tmp_path):
    """r11 verdict task 2: with a checkpoint dir configured the
    barrier routes through reliable ``DataFrame.checkpoint`` (files on
    shared storage, survives executor loss) instead of
    ``localCheckpoint``; without it, the local path is used and no
    checkpoint dir is required. Values identical on both paths."""
    from spark_query_engine.operators import cut_lineage

    key = "spark.spark_query_engine.checkpoint.dir"
    df = spark.range(100).selectExpr("id", "id * 3 as v")
    want = sorted((r["id"], r["v"]) for r in df.collect())

    # local path (default): no checkpoint dir involved
    spark.conf.unset(key)
    local = cut_lineage(df)
    assert sorted((r["id"], r["v"]) for r in local.collect()) == want

    # reliable path: the conf routes through sc.setCheckpointDir +
    # DataFrame.checkpoint — checkpoint files land under the dir
    ckpt = tmp_path / "ckpt"
    spark.conf.set(key, str(ckpt))
    try:
        reliable = cut_lineage(df)
        assert sorted((r["id"], r["v"]) for r in reliable.collect()) == want
        files = list(ckpt.rglob("*"))
        assert files, "reliable checkpoint wrote nothing under the dir"

        # lazy form works on the reliable path too (materializes on the
        # consumer's first action, not at the cut)
        lazy = cut_lineage(df.where("id < 10"), eager=False)
        assert lazy.count() == 10
    finally:
        spark.conf.unset(key)


def test_covariance_matrix_bigint_bound_guard(spark):
    """r11 verdict task 4: the per-row BIGINT product bound
    (|element| < ~3e3 after 1e-6 quantization) is enforced at runtime
    — near-bound values stay exact, out-of-domain values raise instead
    of silently wrapping."""
    from pyspark.sql.utils import AnalysisException  # noqa: F401
    from spark_query_engine.operators import clustering as C

    # near the bound but inside it: |element| = 2999 -> xq = 2.999e9;
    # products ~8.99e18 < 2^63 — still exact
    rows = [
        (1, [2999.0, -2999.0]),
        (2, [-2999.0, 2999.0]),
        (3, [1.5, -0.5]),
    ]
    df = spark.createDataFrame(rows, "id int, vec array<double>")
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in C.covariance_matrix(df, "id", "vec").collect()
    }
    # exact replay with python ints (the engine's quantized moments)
    import math

    q = [[math.floor(x * 1e6) for x in vec] for _, vec in rows]
    n = float(len(rows))
    want = {}
    for i in range(2):
        for j in range(i, 2):
            sxy = sum(v[i] * v[j] for v in q)
            sx = sum(v[i] for v in q)
            sy = sum(v[j] for v in q)
            want[(i + 1, j + 1)] = round(
                (sxy - sx * sy / n) / (n * 1e12), 6
            ) + 0.0
    assert got == pytest.approx(want)

    # out of domain: |element| = 4000 -> xq = 4e9; 4e9*4e9 = 1.6e19
    # exceeds BIGINT — the job must fail loudly, never return garbage.
    # Under ANSI (Spark 4 default) the multiply itself raises
    # ARITHMETIC_OVERFLOW in the explode stage; with ANSI off the
    # product wraps silently and the operator's own max|xq| guard
    # raises at the output projection instead. Either way: loud.
    bad = spark.createDataFrame(
        [(1, [4000.0, 4000.0]), (2, [1.0, 2.0])],
        "id int, vec array<double>",
    )
    with pytest.raises(
        Exception,
        match="exact BIGINT product domain|ARITHMETIC_OVERFLOW",
    ):
        C.covariance_matrix(bad, "id", "vec").collect()
