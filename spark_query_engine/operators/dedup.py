"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

All hashing is md5-based so results are engine-portable (the DuckDB
oracle computes the identical md5 strings); all expressions are
built-in Spark SQL functions — shingling, minhashing and banding run
inside whole-stage codegen, and every join is an equi-join on a
hash-distributed key.

Scale design (100 TB):
- Candidate generation is LSH banding → equi-join on (band_idx,
  band_key): documents only meet if they share a band, so the shuffle
  volume is O(n · bands), not O(n²).
- Verification (exact Jaccard) runs only on candidate pairs, via a
  shingle equi-join semi-filtered to candidates.
- Hot shingles (boilerplate) are the skew risk: ``max_shingle_df``
  drops shingles shared by more than a fraction of the corpus — at
  scale these carry no signal and create quadratic join fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_query_engine.operators import (
    blocked_pairs,
    cut_lineage,
    release_on_drop,
    widen,
)


# --- shingling -------------------------------------------------------------


def word_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles, one row per (id, shingle).

    Pure JVM expressions: split → sequence → transform → explode.
    Documents with fewer than k words produce no shingles.

    The split materializes in its OWN projection before the shingle
    lambda indexes it (r8, the text_ngram_novelty lesson): Catalyst
    has no CSE inside higher-order functions, so indexing the raw
    split EXPRESSION re-split the whole document k times per shingle
    — O(words·len) per doc; CollapseProject keeps the projection
    because the alias is non-cheap and multiply-referenced. Measured
    3× on the sf1 shingle scan (2.16 → 0.74 s), value-identical.
    """
    df = (
        widen(df)
        .select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), " ").alias("_w"),
        )
        .where(F.size("_w") >= k)
    )
    words = F.col("_w")
    idx = F.sequence(F.lit(1), F.size("_w") - (k - 1))
    shingle = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, i + j) for j in range(k)]
        ),
    )
    return df.select(
        "id", F.explode(F.array_distinct(shingle)).alias("shingle")
    )


def char_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """Distinct character n-gram shingles, one row per (id, shingle)."""
    df = widen(df)
    arr = F.expr(
        f"transform(sequence(1, length({text_col}) - {n - 1}), i -> substring({text_col}, i, {n}))"
    )
    return (
        df.where(F.length(text_col) >= n)
        .select(F.col(id_col).alias("id"), F.explode(F.array_distinct(arr)).alias("shingle"))
    )


# --- exact dedup -----------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct content with
    the representative (min id) and duplicate count. A single
    hash-partitioned aggregation — the cheapest dedup at any scale."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("id").alias("representative_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --- MinHash + LSH ---------------------------------------------------------


_MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation coefficients (a_j, b_j) drawn
    from [1, 2^30) — caps a_j·h at 2^62 (h < 2^32), so the arithmetic
    is exact signed-64-bit in any engine, no ANSI overflow. Fixed seed
    (11) for cross-run/cross-engine reproducibility."""
    import numpy as np

    rng = np.random.RandomState(11)
    bound = 1 << 30
    params = [
        (int(rng.randint(1, bound)), int(rng.randint(0, bound)))
        for _ in range(num_hashes)
    ]
    # r12 (advisor row 4): the F.expr SQL strings interpolate these as
    # bare `L`-suffixed BIGINT literals — a_j·h + b_j must stay exact
    # signed-64-bit (h < 2^32, so a_j < 2^30 caps the product at 2^62).
    # Lock the contract the string interpolation depends on.
    assert all(
        1 <= a < bound and 0 <= b < bound for a, b in params
    ), "_minhash_params: coefficient out of the exact-64-bit domain"
    return params


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per id via affine permutations of ONE base
    hash: h = first 8 md5 hex chars as a 32-bit int, hash_j(doc) =
    min over shingles of (a_j·h + b_j) mod P (P prime > 2^32, product
    < 2^63 — exact in any 64-bit engine). One md5 per shingle instead
    of num_hashes md5s, and the num_hashes partial-agg mins run on
    longs, not 32-char strings — ~10× cheaper signature stage at equal
    min-wise uniformity.

    r11: each min-agg builds as ONE ``F.expr`` SQL string instead of
    six py4j Column calls — ~100 bridge round-trips saved per
    invocation at num_hashes=16, ~800 at the high-recall 136-hash
    config (the construction-time term the split profiler flagged).
    No large literals are interpolated, so the d2_sql re-parse caveat
    does not apply; the text parses to the same expressions, values
    unchanged."""
    base_sql = "cast(conv(substring(md5(shingle), 1, 8), 16, 10) as bigint)"
    aggs = [
        F.expr(
            f"min(({a}L * {base_sql} + {b}L) % {_MINHASH_PRIME}L)"
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(_minhash_params(num_hashes))
    ]
    return shingles.groupBy("id").agg(*aggs)


def _band_keys(num_hashes: int, bands: int):
    """(band_idx, band_key) rows of a signature with columns mh0…:
    band b's key is the md5 of its ``num_hashes // bands`` hashes
    joined by '|'. One ``F.expr`` per band key instead of ~3·rows
    py4j Column calls (same construction-time shave as
    ``minhash_signatures``)."""
    rows = num_hashes // bands
    band_cols = [
        F.expr(
            "md5(concat_ws('|', "
            + ", ".join(
                f"cast(mh{b * rows + j} as string)" for j in range(rows)
            )
            + "))"
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key")


def lsh_candidate_pairs(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Band the signature and equi-join on (band_idx, band_key) →
    candidate pairs (id_a < id_b). For docs with Jaccard s, the miss
    probability is (1 - s^(h/b))^b — with 16 hashes / 4 bands,
    s=0.8 is missed with p≈0.028, s=0.95 with p≈3e-5. Tune bands up
    for lower thresholds."""
    banded = signatures.select("id", _band_keys(num_hashes, bands))
    # Band self-join, kept after measuring the alternative: bucket
    # pre-aggregation (collect_list ids per (band,key), expand pairs
    # map-side with an indexed transform) was ~1.4× SLOWER at sf0.1
    # cold and warm — the higher-order-function expansion costs more
    # than the hash join it saves, and the r1-recorded run-to-run
    # spread turned out to be cold-start (codegen + persist
    # population), not the join. The equi-join keys distribute the
    # bucket explosion over tasks, which is also the safer shape for a
    # degenerate hot band key at 100 TB.
    return (
        blocked_pairs(banded, ["band_idx", "band_key"])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_banded_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    hot_shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-ROW MinHash banding: (id, shingles, band_idx, band_key) with
    the signature computed inside the row's projection (array_min over
    the shingle array) instead of a groupBy — semantically identical to
    ``minhash_signatures`` + ``lsh_candidate_pairs``'s banding (same
    md5 base hash, same affine permutations, same band-key md5), but
    with NO aggregation, which makes it legal on a STREAMING DataFrame
    ahead of a stateful operator. The batch pipeline keeps the groupBy
    form (shingle rows feed the verify join there); this is the
    ingestion-time form.

    ``hot_shingles``: optional STATIC (shingle) relation of boilerplate
    shingles to exclude before hashing — the streaming-legal form of
    the batch ``max_shingle_df`` guard (a document-frequency count is
    an aggregation and cannot precede a stateful op on a stream, so
    the hot list is computed batch-side over a reference corpus and
    broadcast; stream-static joins are allowed). Excluded shingles
    disappear from both the signature and the verify set, exactly like
    the batch guard."""
    df = widen(df)
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(1), n - (shingle_k - 1))
    shingle = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, i + j) for j in range(shingle_k)]
        ),
    )
    base = df.where(n >= shingle_k).select(
        F.col(id_col).alias("id"), F.array_distinct(shingle).alias("shingles")
    )
    if hot_shingles is not None:
        # the hot list is bounded model state (boilerplate shingles) —
        # ship it as a literal so the exclusion stays a stream-legal
        # per-row projection, no join at all
        hot = sorted(
            r["shingle"]
            for r in hot_shingles.select("shingle").distinct().collect()
        )
        base = base.select(
            "id",
            F.array_except(F.col("shingles"), F.lit(hot)).alias("shingles"),
        ).where(F.size("shingles") > 0)

    def h(s):
        return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")

    mh = [
        F.array_min(
            F.transform(
                F.col("shingles"),
                lambda s: (F.lit(a) * h(s) + F.lit(b)) % F.lit(_MINHASH_PRIME),
            )
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(_minhash_params(num_hashes))
    ]
    sig = base.select("id", "shingles", *mh)
    return sig.select("id", "shingles", _band_keys(num_hashes, bands))


def _with_shingle_counts(inter: DataFrame, sizes: DataFrame) -> DataFrame:
    """Attach both sides' shingle counts to (id_a, id_b, n_inter) pair
    rows: (id_a, id_b, n_inter, na, nb). ``sizes`` is (id, n_sh)."""
    return (
        inter.join(sizes.alias("za"), F.col("za.id") == F.col("id_a"))
        .join(sizes.alias("zb"), F.col("zb.id") == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "n_inter",
            F.col("za.n_sh").alias("na"),
            F.col("zb.n_sh").alias("nb"),
        )
    )


def _jaccard_at_least(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) for the (id_a, id_b, n_inter) pairs whose
    Jaccard n_inter / (|A| + |B| − n_inter), rounded to 6dp, is at
    least ``threshold``; ``sizes`` is (id, n_sh)."""
    jac = F.round(
        F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
    )
    return (
        _with_shingle_counts(inter, sizes)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def verify_jaccard(
    shingles: DataFrame, pairs: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate pairs only: intersection via a
    shingle equi-join restricted to candidates, union via per-id
    shingle counts. Returns (id_a, id_b, jaccard) with jaccard ≥
    threshold, rounded to 6dp (integer-ratio division — engine-exact)."""
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = shingles.alias("sa")
    sb = shingles.alias("sb")
    p = pairs.alias("p")
    inter = (
        p.join(sa, F.col("sa.id") == F.col("p.id_a"))
        .join(
            sb,
            (F.col("sb.id") == F.col("p.id_b"))
            & (F.col("sb.shingle") == F.col("sa.shingle")),
        )
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_at_least(inter, sizes, threshold)


def minhash_collision_prob(j: float, num_hashes: int, bands: int) -> float:
    """The banding S-curve: P(some band collides | jaccard = j) =
    1 − (1 − j^r)^b with r = num_hashes/bands rows per band
    (Leskovec/Rajaraman/Ullman, MMDS ch. 3 — exact for independent
    min-wise hashes). The measured sf0.3 grid in SCALING.md
    ("minhash recall grid", r9) tracks it on the replica corpus.

    ``num_hashes`` must be an exact multiple of ``bands`` — a silent
    floor would compute the curve for a DIFFERENT banding than the
    one the caller runs (e.g. (16, 5) would price r=3, b=5 = 15
    hashes)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} is not a multiple of bands={bands}: "
            "the S-curve would price a different banding than the one run"
        )
    r = num_hashes // bands
    return 1.0 - (1.0 - j**r) ** bands


def minhash_config(
    threshold: float,
    recall_target: float = 0.9,
    rows_per_band: int = 4,
    max_hashes: int = 256,
) -> tuple[int, int]:
    """Price the banding recall trade: the smallest (num_hashes,
    bands) at the given curve SHARPNESS (``rows_per_band`` — more
    rows per band = sharper S-curve = fewer sub-threshold candidates
    leak into the exact-Jaccard verify; 4 is the historical default)
    whose collision probability at jaccard = ``threshold`` meets
    ``recall_target``. Bands buy recall linearly in cost — each band
    is one more candidate self-join key per doc — so the returned
    config IS the price of the requested recall.

    The fixed 16/4 config this replaces as a hand-picked constant
    sits at P(0.6) ≈ 0.43, P(0.8) ≈ 0.88, P(0.95) ≈ 0.9988 on this
    curve — fine for the ≥0.95-j planted-dup regime, the documented
    mid-j trade otherwise; ``minhash_config(0.6, 0.9)`` → (68, 17)
    prices that trade away explicitly instead of re-deriving the
    curve per pipeline. Raises if the target needs more than
    ``max_hashes`` (threshold too low for the hash budget)."""
    if not 0.0 < threshold < 1.0 or not 0.0 < recall_target < 1.0:
        raise ValueError("threshold and recall_target must be in (0, 1)")
    if rows_per_band < 1:
        raise ValueError(f"rows_per_band must be >= 1, got {rows_per_band}")
    import math

    p_band = threshold**rows_per_band  # P(one band collides)
    # smallest b with 1 - (1 - p_band)^b >= recall_target
    b = math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - p_band))
    b = max(1, b)
    if b * rows_per_band > max_hashes:
        raise ValueError(
            f"recall {recall_target} at jaccard {threshold} needs "
            f"{b} bands × {rows_per_band} rows = {b * rows_per_band} hashes "
            f"> max_hashes={max_hashes}"
        )
    return b * rows_per_band, b


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → band
    → candidate equi-join → exact-Jaccard verify.

    ``max_shingle_df`` is the hot-shingle guard (same knob as
    ``ngram_jaccard_pairs``): shingles appearing in more than that
    many documents — boilerplate — are dropped before BOTH the
    signature and the verify set, bounding band-bucket occupancy on
    boilerplate-heavy corpora. Off by default (exact-oracle parity).

    The shingle relation feeds both the signature aggregation and the
    verification join, and the signature relation feeds both sides of
    the band self-join — both are persisted, otherwise every reference
    re-executes the scan+explode(+agg) lineage. At cluster scale the
    same pattern applies with MEMORY_AND_DISK (the default) or a
    checkpoint between the candidate and verify stages."""
    sh = word_shingles(df, id_col, text_col, shingle_k)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.countDistinct("id").alias("df"))
            .where(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    sh = sh.persist()
    sig = minhash_signatures(sh, num_hashes).persist()
    cand = lsh_candidate_pairs(sig, num_hashes, bands)
    # cache lifetime = result lifetime (see operators.release_on_drop)
    return release_on_drop(verify_jaccard(sh, cand, threshold), sh, sig)


# --- SimHash ---------------------------------------------------------------


#: The simhash token-hash SUPERSET: 15 hex chars of md5 = 60 bits, the
#: widest prefix that stays inside a signed 64-bit integer in BOTH
#: engines (DuckDB's ('0x'||…)::BIGINT and Spark's conv(…,16,10)
#: cast long). A `bits`-wide fingerprint votes on the TOP `bits` of
#: the 60 — so every narrower fingerprint is a bit-exact function of
#: the same hashes (bits=32 ≡ the historical first-8-hex-chars hash),
#: the prefix-stability contract the footer-sized band width needs.
SIMHASH_SUPERSET_BITS = 60

#: Per-band occupancy target for the footer-sized band width: with
#: 2^width ≈ n/64 each band's random-collision candidate count stays
#: ~32·n·blocks — linear — instead of the fixed-8-bit n²·blocks/256
#: quadratic term (invisible below ~1e6 docs, ruinous at corpus
#: scale). Same sizing family as the LSH plane count (similarity.py).
SIMHASH_BAND_TARGET = 64


def simhash_band_bits(n: int, blocks: int = 4) -> int:
    """Footer-sized band width: max(8, ⌈log₂⌈n/64⌉⌉), clamped so
    blocks·width never exceeds the 60-bit hash superset. Resolves to
    the historical 8 below ~16k docs (ceil(n/64) <= 2^8); past the clamp (~2.1M docs at
    blocks=4) per-band occupancy degrades explicitly — the same
    documented superset-exhaustion contract as the 24-plane LSH cap."""
    import math

    cap = SIMHASH_SUPERSET_BITS // blocks
    return min(cap, max(8, math.ceil(math.log2(max(1, (n + 63) // 64)))))


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Per-doc SimHash over distinct whitespace tokens. Token hash =
    the TOP ``bits`` of the 60-bit md5 15-hex-char prefix (at the
    default bits=32 this IS the historical first-8-hex-chars 32-bit
    value — portable across engines); simhash bit b is the sign of
    the ±1 vote sum. One explode + one aggregation with `bits`
    integer-sum columns (all codegen'd)."""
    assert 1 <= bits <= SIMHASH_SUPERSET_BITS
    # One F.expr parse per vote sum and one for the fold: a Column chain
    # pays a py4j round trip per node, ~15 per vote.
    toks = (
        widen(df).select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
        )
        .where(F.col("tok") != "")
        .withColumn(
            "h",
            F.expr(
                "shiftright(CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT), "
                f"{SIMHASH_SUPERSET_BITS - bits})"
            ),
        )
    )
    votes = toks.groupBy("id").agg(
        *[
            F.expr(f"sum(IF((shiftright(h, {b}) & 1) = 1, 1, -1))").alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sim = " + ".join(f"IF(s{b} > 0, {1 << b}L, 0L)" for b in range(bits))
    return votes.select("id", F.expr(sim).alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_distance: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Hamming-distance near-dups with pigeonhole blocking: split the
    simhash into ``blocks`` equal bands; any pair within
    ``max_distance < blocks`` Hamming must agree on ≥1 band, so the
    band equi-join has exact recall AT EVERY band width (not
    probabilistic, unlike MinHash-LSH). Returns (id_a, id_b, hamming).

    Footer-sized band width (r9): ``n`` is the corpus row count (from
    parquet footer metadata) and the band width is
    ``simhash_band_bits(n)`` — the fingerprint is blocks·width bits so
    each band's random-collision rate tracks ~SIMHASH_BAND_TARGET·n
    instead of a fixed width's n²·blocks/2^w quadratic. Below ~16k
    docs this resolves to width 8 / 32 bits (the wider hash's top 32
    bits ARE the first-8-hex-chars 32-bit hash). Past the clamp
    (~2.1M docs) occupancy degrades explicitly, the documented
    superset-exhaustion contract. The reported ``hamming`` is over
    the blocks·width-bit fingerprint, with the oracle deriving the
    same width from COUNT(*)."""
    assert max_distance < blocks, "pigeonhole recall needs max_distance < blocks"
    width = simhash_band_bits(n, blocks)
    mask = (1 << width) - 1
    # both sides of the block self-join read the simhash relation;
    # persist so the token explode + 32-column vote agg runs once
    sim = simhash(df, id_col, text_col, blocks * width).persist()
    bands = ", ".join(f"shiftright(simhash, {i * width}) & {mask}" for i in range(blocks))
    banded = sim.select(
        "id", "simhash", F.expr(f"posexplode(array({bands})) AS (block_idx, block_key)")
    )
    out = (
        blocked_pairs(banded, ["block_idx", "block_key"])
        .selectExpr(
            "a.id AS id_a",
            "b.id AS id_b",
            "CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming",
        )
        .where(f"hamming <= {max_distance}")
        .distinct()
    )
    return release_on_drop(out, sim)


# --- n-gram Jaccard (exact, via shingle equi-join) ---------------------------


def _shared_shingles(sh: DataFrame) -> DataFrame:
    """(id_a, id_b, n_inter): the shared-shingle count of every id
    pair, id_a < id_b, with at least one shingle in common."""
    return (
        blocked_pairs(sh, ["shingle"])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def shingle_overlap(sh: DataFrame) -> DataFrame:
    """Exact shingle overlap of every id pair that shares a shingle,
    over an (id, shingle) relation with no duplicate rows: (id_a,
    id_b, n_inter, na, nb) with id_a < id_b, n_inter = |A ∩ B| and
    na, nb = |A|, |B|. Jaccard and containment are ratios of these
    integers. The shingle equi-join is the blocker — pairs sharing
    nothing never materialize — so its fan-out is Σ_shingle C(df, 2)."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    return _with_shingle_counts(_shared_shingles(sh), sizes)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    kind: str = "word",
    threshold: float = 0.7,
    max_shingle_df: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold. The shingle equi-join
    *is* the blocker: pairs sharing no n-gram never materialize, so
    the join fan-out is Σ_shingle C(df,2) — benign when the shingle
    space is large relative to the corpus (word n-grams, n≥3), and
    quadratic for low-entropy shingles (char n-grams over a small
    alphabet: measured 769M joined pairs on a 5000-doc synthetic
    corpus vs 1.3M for word 3-grams). Defaults are therefore word
    4-grams; ``max_shingle_df`` additionally drops boilerplate
    shingles occurring in more than that many docs (off by default —
    it changes the similarity definition, and the DF filter removes
    the same shingles from both sides of a true near-dup pair, so
    recall at high thresholds survives).

    ``hash_shingles=True`` replaces the shingle string with its
    xxhash64 before the self-join — the join/shuffle key drops from
    ~30 bytes to 8 (measured ~17% faster locally; proportionally more
    at cluster scale where the shuffle dominates). Collisions
    overcount an intersection with probability ~n_shingles²/2⁶⁴ —
    negligible, but the result is then 'Jaccard over hashed shingles'
    (the datasketch-style definition), not byte-exact string Jaccard,
    so the oracle-checked default stays False."""
    if kind == "word":
        sh = word_shingles(df, id_col, text_col, n)
    else:
        sh = char_shingles(df, id_col, text_col, n)
    if hash_shingles:
        sh = sh.select("id", F.xxhash64("shingle").alias("shingle"))
    # referenced by sizes + both sides of the pair join; the cache
    # backs the RETURNED lazy plan, so the release point is the
    # caller's (bench.py clears cache between queries)
    sh = sh.persist()
    sh_cached = sh
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    return release_on_drop(
        _jaccard_at_least(_shared_shingles(sh), sizes, threshold), sh_cached
    )


# --- duplicate clustering (connected components) -----------------------------


def connected_components(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Cluster near-duplicate pairs into components: every node gets
    the MIN id reachable from it.

    Large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond"): per round, LARGE-STAR hangs
    every neighbor LARGER than a node off the minimum of its
    neighborhood, then SMALL-STAR re-hangs the smaller neighbors off
    that minimum. Both steps are an equi-join of the edge list with a
    per-node min — the same shuffle shape as min-label propagation —
    but the edge set contracts toward min-rooted stars in O(log n)
    rounds REGARDLESS of component diameter, which is what kills the
    adversarial-chain case label propagation degrades on (O(diameter)
    rounds).

    Per round: two (join + groupBy-min + distinct) passes, all
    shuffled on node id; the edge relation is cut to a checkpointed
    leaf (``cut_lineage``) every round. The
    convergence probe is a (count, xor-of-edge-hashes) scalar — the
    edge set is a fixpoint exactly when the signature repeats.

    Returns (id, component) for every node appearing in ``pairs``."""
    # eager localCheckpoint, not persist: lineage truncates (the
    # upstream pairs pipeline never re-runs for the final join) and
    # the backing blocks are reclaimed by the ContextCleaner when the
    # result is dropped — a persist here leaked across repeated
    # invocations (bench runs each query 3×) because the success path
    # never reached an unpersist.
    # r11 OPT: checkpoint the PAIRS relation once and derive nodes and
    # edges from the checkpointed leaf. The previous shape checkpointed
    # nodes and edges separately, and since the two checkpoints are
    # separate actions (no cross-job stage reuse), the upstream pairs
    # pipeline — the expensive part for every caller: banded MinHash /
    # blocked-cosine candidate generation — executed TWICE at
    # construction. Measured alternating A/B at sf0.1, min-of-4:
    # min-of-4 at sf0.1: dedup_cluster_components 5.99 s -> 4.00 s
    # (-33%), corpus_dedup_keep_best 5.67 -> 3.57 (-37%),
    # dedup_cluster_purity 3.96 -> 3.62, pipeline_entity_resolution
    # 2.71 -> 2.37. `nodes` stays lazy: it is consumed exactly once
    # (the final left join), so it rides the result's action and
    # reads the checkpointed leaf.
    e0 = cut_lineage(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    nodes = (
        e0.select(F.col("u").alias("n"))
        .union(e0.select(F.col("v").alias("n")))
        .distinct()
    )
    edges = cut_lineage(e0.where(F.col("u") != F.col("v")).distinct())
    prev_sig = None
    for _i in range(max_iter):
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.first("u"), F.min("v")).alias("m")
        )
        # large-star: every neighbor v > u re-attaches to min(Γ(u) ∪ u);
        # m ≤ u < v, so the output is (larger, smaller)-oriented and
        # self-loop-free by construction. No dedup here — the round's
        # single distinct at the end covers it, and mins2 is
        # duplicate-insensitive.
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: neighbors (all smaller after the orientation) and
        # the node itself re-attach to the neighborhood min
        mins2 = large.groupBy("u").agg(
            F.least(F.first("u"), F.min("v")).alias("m")
        )
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("n"), F.col("m").alias("c"))
            .union(mins2.select(F.col("u").alias("n"), F.col("m").alias("c")))
            .where(F.col("n") != F.col("c"))
            .distinct()
            .select(F.col("n").alias("u"), F.col("c").alias("v"))
        )
        # checkpoint EVERY round: each round references `edges` ~6
        # times (sym union, two joins, two mins), so an unbroken
        # lineage grows ~6× per round — by round 5 just RENDERING the
        # AQE plan OOMs the driver. Eager localCheckpoint truncates
        # the plan to a leaf each round (a real cluster job uses
        # reliable checkpointing); the materialization it forces is
        # work the convergence probe needs anyway.
        small = cut_lineage(small)
        row = small.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.bit_xor(F.xxhash64("u", "v")).alias("sig"),
        ).collect()[0]
        sig = (row["cnt"], row["sig"])
        edges.unpersist()
        edges = small
        # r10: expose the fixpoint's round count (scaling evidence —
        # SCALING.md's iterative-graph table records it per scale;
        # the O(log n) claim is measured, not asserted)
        connected_components.last_rounds = _i + 1
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint in {max_iter} "
            "rounds — raise max_iter (round count is O(log n), so "
            "this should never fire on real graphs)"
        )
    # fixpoint edges are (child → component-min root) stars; the
    # groupBy-min is a no-op safety net at the fixpoint
    roots = edges.groupBy("u").agg(F.min("v").alias("component"))
    out = (
        nodes.join(roots, nodes["n"] == roots["u"], "left")
        .select(
            F.col("n").alias("id"),
            F.coalesce("component", "n").alias("component"),
        )
    )
    return out


# --- cosine similarity as SQL text ------------------------------------------


def cosine(a: str, b: str) -> str:
    """Cosine similarity between two array<double> SQL expressions, as
    SQL TEXT: dot and norms are one sequential ``aggregate`` fold each,
    so the summation order is deterministic and engine-reproducible.

    The contract is text in, text out. ``a`` and ``b`` are anything
    Spark SQL parses as an array: a column name (``vec``, ``a.vec``), a
    ``nested_sql`` literal, or the variable of an enclosing lambda
    (``transform(cents, c -> ...)``). Splice the result into one
    ``F.expr`` with whatever wraps it (``round(...,6)``, an argmax), so
    the kernel costs one parse instead of ~15 py4j Column calls. The
    arguments are only ever passed to the folds, never used inside
    their lambda bodies, so no name of the caller's can be shadowed."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
        f" / (sqrt(aggregate({a}, 0D, (acc, v) -> acc + v * v))"
        f" * sqrt(aggregate({b}, 0D, (acc, v) -> acc + v * v)))"
    )


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold via PREFIX FILTERING
    (the PPJoin family): order every document's shingles by global
    rarity (df asc, shingle) and join only each document's first
    |d| - ⌈t·|d|⌉ + 1 shingles — the prefix-filter lemma guarantees
    any pair with J ≥ t shares a prefix shingle under a common global
    order, so the candidate set is LOSSLESS while the join touches a
    small slice of the shingle relation (and the rarest shingles at
    that, which is exactly where Σ C(df,2) fan-out is cheapest).
    Candidates then verify by exact intersection counting restricted
    to the candidate pairs.

    ⌈t·|d|⌉ is computed in INTEGER arithmetic with t rationalized
    DOWNWARD: ``num = ⌊1000·t⌋`` via exact Fraction arithmetic, so
    num/1000 ≤ t always and the integer bound ⌈num·n/1000⌉ ≤ ⌈t·n⌉ —
    the prefix can only be LONGER than the lemma requires, never
    shorter (a round() there, e.g. t=2/3 → 0.667 > t, would shorten
    the prefix below the lossless bound while the final filter still
    used the true t). Float ceil noise (0.6·5 → 3.0000000000000004 →
    ⌈⌉ = 4) is avoided the same way.

    Compared to ``ngram_jaccard_pairs`` (all-shingle join), this adds
    a df aggregation and a per-doc rank window but shrinks the
    pair-generating join by the prefix ratio (~(1-t)) AND skips the
    hottest shingles — the asymptotic fix for the documented fan-out
    blocker. MEASURED trade at sf0.1 (5000 docs, ~30-word vocab,
    identical 256 output pairs): all-shingle 3.1 s vs prefix 7.6 s —
    on THIS corpus the shingle space is tiny (≤27k distinct 3-grams),
    so Σ C(df,2) is already benign and the extra stages dominate.
    Prefix filtering pays off where the blocker actually bites:
    long documents over an open vocabulary (real web corpora), where
    per-shingle df is near 1 for the prefix slice and the all-shingle
    join's fan-out is the quadratic term. Both paths stay registered;
    pick by corpus shape."""
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1000)
    num = (1000 * frac.numerator) // frac.denominator  # ⌊1000·t⌋, exact
    sh = word_shingles(df, id_col, text_col, n).persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("sdf", "shingle")
    prefix = (
        sh.join(dfreq, "shingle")
        .join(sizes, "id")
        .withColumn("rn", F.row_number().over(w))
        .where(
            F.col("rn")
            <= F.col("n_sh")
            - F.floor((num * F.col("n_sh") + 999) / 1000).cast("long")
            + 1
        )
        .select("id", "shingle")
    )
    cand = (
        blocked_pairs(prefix, ["shingle"])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.id") == F.col("id_a"))
        .join(
            sb,
            (F.col("sb.id") == F.col("id_b"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return release_on_drop(_jaccard_at_least(inter, sizes, threshold), sh)


def dup_span_removal(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """ExactSubstr-style duplicated-span removal (Lee et al. 2022):
    slide a ``k``-token window over every document, mark windows whose
    text occurs in more than one document, erase every token covered
    by a marked window, and return the cleaned documents:
    (id, n_tokens, n_removed, cleaned_text).

    Shuffle ledger (all keyed + map-side combinable, never all-pairs):
    gram distinct-doc count, semi join back, (doc, pos) anti join,
    per-doc reassembly via array_sort(collect_list(struct(pos, tok)))
    — per-doc lists bounded by the longest document, the repo-wide
    per-doc bound. The gram key md5-compresses to 8 bytes at scale."""
    toks = df.select(F.col(id_col).alias("id"), F.split(text_col, " ").alias("t"))
    wins = toks.where(F.size("t") >= k).select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) - {k}), "
                f"i -> struct(i AS s, concat_ws(' ', slice(t, i + 1, {k})) AS g))"
            )
        ).alias("w"),
    ).select("id", "w.s", "w.g")
    dupg = (
        wins.groupBy("g")
        .agg(F.countDistinct("id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("g")
    )
    cov = (
        wins.join(dupg, "g", "leftsemi")
        .select(
            "id",
            F.explode(F.sequence(F.col("s"), F.col("s") + (k - 1))).alias("pos"),
        )
        .distinct()
    )
    tokpos = toks.select("id", F.posexplode("t").alias("pos", "tok"))
    kept = tokpos.join(cov, ["id", "pos"], "left_anti")
    cleaned = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("ctext"),
    )
    n_tokens = F.size(F.split(text_col, " "))
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
        .join(cleaned, "id", "left")
        .select(
            "id",
            F.size(F.split("__txt", " ")).alias("n_tokens"),
            (F.size(F.split("__txt", " ")) - F.coalesce("n_kept", F.lit(0)))
            .alias("n_removed"),
            F.coalesce("ctext", F.lit("")).alias("cleaned_text"),
        )
    )
