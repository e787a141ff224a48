"""Dedup queries over the documents/embeddings tables.

Each oracle recomputes the SAME deterministic definition (md5-based
hashing, integer-exact Jaccard) — brute force where the Spark side
uses LSH/banded blocking, which is exactly the point: the oracle
checks that the scale path loses nothing at this threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_query_engine.operators import carry_caches, cut_lineage, release_on_drop, widen
from spark_query_engine.operators import dedup as D
from spark_query_engine.queries import footer_rows, load, query

# word-3gram shingle CTE shared by minhash oracle (DuckDB lists are 1-indexed)
_WORD_SHINGLES = """
    words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
        FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
"""

#: All-pairs shared-shingle counts over ``sh``: the DuckDB twin of the
#: intersection inside ``operators.dedup.shingle_overlap``.
_SHINGLE_INTER = """inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )"""

#: ``inter`` with both sides' shingle counts, as ``za.n_sh``/``zb.n_sh``.
_INTER_SIZES = """FROM inter
        JOIN sizes za ON za.doc_id = id_a
        JOIN sizes zb ON zb.doc_id = id_b"""


@query(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS fingerprint,
               MIN(doc_id) AS representative_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup — one hash-partitioned aggregation."""
    return D.exact_duplicates(load(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_minhash",
    oracle=f"""
        WITH {_WORD_SHINGLES},
        {_SHINGLE_INTER}
        SELECT id_a, id_b,
               ROUND(n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard
        {_INTER_SIZES}
        WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.6
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (word 3-grams, 16 hashes / 4 bands,
    exact-Jaccard verify at 0.6). The oracle brute-forces all pairs;
    at this threshold the LSH miss probability is ≈3e-5 per true pair
    (the corpus's planted near-dups sit at j≥0.95)."""
    return D.minhash_near_duplicates(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        shingle_k=3,
        num_hashes=16,
        bands=4,
        threshold=0.6,
    )


@query(
    "dedup_minhash_highrecall",
    oracle=f"""
        WITH {_WORD_SHINGLES},
        {_SHINGLE_INTER}
        SELECT id_a, id_b,
               ROUND(n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard
        {_INTER_SIZES}
        WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.6
    """,
)
def dedup_minhash_highrecall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs at a NON-DEFAULT priced recall point
    (r9 verdict task 8): ``minhash_config(threshold=0.6,
    recall_target=0.99)`` → (136 hashes, 34 bands) on the analytic
    S-curve — P(candidate | j=0.6) ≥ 0.99 per true pair vs the default
    16/4 config's 0.43, at 34/4 = 8.5× the band-join candidate keys
    per doc (the bench row prices that cost next to ``dedup_minhash``).
    Same exact-Jaccard verify at 0.6, same brute-force oracle: the
    correctness gate checks that the HIGH-recall banding loses nothing
    at driver scale, and the sf0.3 measured grid (SCALING.md "minhash
    recall grid") pins the expected-recall envelope at replica scale
    (136/34 recalls an expected 601.2 of the 602 exact sf1 pairs vs
    490.7 for 16/4)."""
    n_hashes, bands = D.minhash_config(0.6, recall_target=0.99)
    return D.minhash_near_duplicates(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        shingle_k=3,
        num_hashes=n_hashes,
        bands=bands,
        threshold=0.6,
    )


@query(
    "dedup_simhash",
    # The band width — and with it the fingerprint width 4·w — is
    # derived from COUNT(*) by BOTH engines (the engine from the
    # parquet footer, the oracle via the nw scalar subquery): the
    # same CEIL∘LOG2-of-an-exact-integer contract as the LSH plane
    # count. Token hash = top 4·w bits of the 60-bit md5 prefix; at
    # w=8 that is exactly the historical first-8-hex-chars hash, so
    # driver-scale results are bit-identical to the fixed config.
    oracle="""
        WITH nw AS (
            SELECT LEAST(15, GREATEST(8,
                CAST(CEIL(LOG2(GREATEST(1, (COUNT(*) + 63) // 64))) AS BIGINT)
            )) AS w
            FROM documents
        ),
        toks AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ),
        th AS (
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 15))::BIGINT
                       >> (60 - 4 * (SELECT w FROM nw)) AS h
            FROM toks
        ),
        bits AS (
            SELECT doc_id, bb.b AS b,
                   SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM th,
                 (SELECT UNNEST(range(0, 4 * (SELECT w FROM nw))) AS b) bb
            GROUP BY doc_id, bb.b
        ),
        sim AS (
            SELECT doc_id,
                   SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
            FROM bits GROUP BY doc_id
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) with pigeonhole band
    blocking — recall is EXACT at every band width (distance ≤3 over
    4 bands ⇒ ≥1 band equal), so the banded Spark plan provably
    equals the oracle's brute force.

    Scale (r9): the band width is FOOTER-SIZED — max(8, ⌈log₂⌈n/64⌉⌉)
    bits per band, fingerprint 4·w bits — killing the fixed-8-bit
    config's n²·blocks/256 background-collision term (the last
    documented-but-unwired fixed-denominator quadratic from the r8
    audit, SCALING.md). Resolves to a 32-bit fingerprint in byte
    bands at sf0.01 (500 docs) and sf0.1 (5k docs); widens to 10-bit
    bands at the ~50k-doc sf1 replica corpus."""
    return D.simhash_near_duplicates(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=footer_rows(spark, sf_dir, "documents"),
        max_distance=3,
        blocks=4,
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]) AS shingle
            FROM words, UNNEST(range(1, len(w) - 2)) AS t(i)
            WHERE len(w) >= 4
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        {_SHINGLE_INTER}
        SELECT id_a, id_b,
               ROUND(n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard
        {_INTER_SIZES}
        WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.7
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-4-gram Jaccard pairs ≥ 0.7 via shingle equi-join
    (the join is the blocker — same SQL shape as the oracle,
    distributed via shuffle on the shingle key). Word n-grams keep
    the shingle space large relative to the corpus, so the join
    fan-out stays near-linear (see operator docstring)."""
    return D.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=4,
        kind="word",
        threshold=0.7,
    )


@query(
    "dedup_cluster_components",
    oracle=f"""
        WITH RECURSIVE
        {_WORD_SHINGLES},
        {_SHINGLE_INTER},
        pairs AS (
            SELECT id_a, id_b
            {_INTER_SIZES}
            WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.6
        ),
        edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT u AS n FROM edges),
        reach(n, m) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT r.n, e.v FROM reach r JOIN edges e ON e.u = r.m
        )
        SELECT n AS id, MIN(m) AS component FROM reach GROUP BY n
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS via iterative min-label
    propagation (connected components): the step that turns pairwise
    similarity into keep-one-per-group dedup decisions. The oracle
    computes the same components by recursive transitive closure —
    feasible at test scale, while the Spark path (join+min per round)
    is the distributed algorithm."""
    pairs = D.minhash_near_duplicates(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        shingle_k=3,
        num_hashes=16,
        bands=4,
        threshold=0.6,
    ).select("id_a", "id_b")
    return D.connected_components(pairs)


def _cp_key_ctes(
    bands: int, rank: int, dim: int = 64, dynamic_arity: bool = False
) -> str:
    """DuckDB CTE fragment replaying ``similarity.cp_keys`` over a CTE
    named ``v(id, vec)``: md5-rebuilt pseudo-rotations → 6dp-rounded
    rotated coordinates → signed-argmax rank-1/rank-2 keys, with the
    Spark tiebreaks (lowest coordinate on abs ties, -index iff y<0).
    Ends with ``cpkeys`` and ``cpcand(id_a, id_b)``.

    With ``dynamic_arity`` (rank-1 only) the fragment instead replays
    ``similarity.cp_bucket_keys`` + ``cp_arity``: the key is the
    ':'-joined top-m signed coordinates with m derived from COUNT(*)
    by the same EXACT integer rule the Spark side evaluates on the
    parquet-footer row count — smallest m ≥ 1 with
    n·bands ≤ 64·(2·dim)^m, capped at 5 — so both engines grow the
    key space with the corpus in lockstep."""
    base = f"""
        rot AS (
            SELECT b, i, j,
                   ROUND((('0x' || substr(md5('cp:' || b || ':' || i
                          || ':' || j), 1, 8))::BIGINT)
                         * 2.0 / 4294967295.0 - 1.0, 6) AS g
            FROM range(0, {bands}) rb(b), range(0, {dim}) ri(i),
                 range(0, {dim}) rj(j)
        ),
        grow AS (SELECT b, i, list(g ORDER BY j) AS gr
                 FROM rot GROUP BY b, i),
        yrot AS (
            SELECT v.id, grow.b, grow.i,
                   ROUND(list_sum(list_transform(range(1, {dim}+1),
                         jj -> vec[jj] * gr[jj])), 6) AS y
            FROM v CROSS JOIN grow
        ),
        yrank AS (
            SELECT id, b, i, y,
                   ROW_NUMBER() OVER (PARTITION BY id, b
                                      ORDER BY ABS(y) DESC, i) AS rn
            FROM yrot
        ),"""
    if dynamic_arity:
        if rank != 1:
            raise ValueError("dynamic_arity replays rank-1 keys only")
        occ, space = 64, 2 * dim
        terms = []
        for _ in range(4):
            terms.append(f"CAST(n * {bands} > {occ * space} AS INT)")
            space *= 2 * dim
        arity_expr = " + ".join(["1"] + terms)
        return base + f"""
        ar AS (SELECT {arity_expr} AS m
               FROM (SELECT COUNT(*) AS n FROM v)),
        cpkeys AS (
            SELECT id, b,
                   string_agg(CASE WHEN y < 0
                                   THEN CAST(-(i+1) AS VARCHAR)
                                   ELSE CAST(i+1 AS VARCHAR) END,
                              ':' ORDER BY rn) AS key
            FROM yrank, ar WHERE rn <= ar.m GROUP BY id, b
        ),
        cpcand AS (
            SELECT DISTINCT a.id AS id_a, bb.id AS id_b
            FROM cpkeys a JOIN cpkeys bb
              ON a.b = bb.b AND a.key = bb.key AND a.id < bb.id
        ),
        cpstat AS (
            SELECT (SELECT COUNT(*) FROM cpcand) AS n_cand,
                   (SELECT COUNT(*) FROM v) AS n
        )"""
    if rank >= 2:
        probe = "a.k1 = bb.k1 OR a.k1 = bb.k2 OR a.k2 = bb.k1"
    else:
        probe = "a.k1 = bb.k1"
    return base + f"""
        cpkeys AS (
            SELECT id, b,
                   MAX(CASE WHEN rn = 1 THEN
                       CASE WHEN y < 0 THEN -(i+1) ELSE i+1 END END) AS k1,
                   MAX(CASE WHEN rn = 2 THEN
                       CASE WHEN y < 0 THEN -(i+1) ELSE i+1 END END) AS k2
            FROM yrank WHERE rn <= 2 GROUP BY id, b
        ),
        cpcand AS (
            SELECT DISTINCT a.id AS id_a, bb.id AS id_b
            FROM cpkeys a JOIN cpkeys bb ON a.b = bb.b AND a.id < bb.id
            WHERE {probe}
        ),
        cpstat AS (
            SELECT (SELECT COUNT(*) FROM cpcand) AS n_cand,
                   (SELECT COUNT(*) FROM v) AS n
        )"""


@query(
    "dedup_embedding_cosine",
    oracle="""
        WITH v AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        )
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(list_cosine_similarity(a.vec, b.vec), 6) AS cos_sim,
               CAST(1.0 AS DOUBLE) AS candidate_fraction
        FROM v a JOIN v b ON a.id < b.id
        WHERE ROUND(list_cosine_similarity(a.vec, b.vec), 6) >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs ≥ 0.45 — EXACT, via the tiled-
    GEMM kernel (``similarity.cosine_pairs_exact``), replacing the
    round-3/4 cross-polytope LSH blocking whose measured sf1 exponent
    was 1.55.

    Why exact is the right plan AT THIS THRESHOLD (round-7 analysis,
    SCALING.md): 0.45 sits 3.6σ into the iid background similarity
    tail of this corpus, where the qualifying-pair count is itself
    Θ(n²·p) with p ≈ 8.5e-5 (closed-form sphere-cap mass at d=64;
    measured 14 pairs at n=500, 144 at n=2000 — n² growth, and
    same-label pairs occur only at chance rate, so there is no latent
    cluster structure to block on). With quadratic OUTPUT, recall-1.0
    blocking cannot be subquadratic — the r5 CP curve's measured 0.49
    candidate fraction at recall 1.0 was that law, not a tuning
    failure. So the quadratic term is paid where it is cheapest: a
    blocked dense GEMM at SIMD flop rates (the FAISS brute-force
    call), with the candidate JOIN machinery — 1e8 shuffled pair rows
    at n=20k — deleted. The prefilter margin makes the GEMM provably
    lossless and the emitted ``cos_sim`` is the engine-exact fold, so
    the brute-force oracle enforces recall 1.0 at every checked
    scale. ``candidate_fraction`` reads 1.0 honestly: the exact plan
    examines all pairs. For the regimes where blocking DOES pay —
    true near-dup thresholds — see ``dedup_embedding_scaled``
    (scale-invariant CP keys, footer-sized arity) and
    ``corpus_semdedup`` (k ∝ n cluster blocking)."""
    from spark_query_engine.operators import similarity as S

    pairs = S.cosine_pairs_exact(
        load(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.45,
        n_rows=footer_rows(spark, sf_dir, "embeddings"),
    )
    # carry: the block cache inside the operator must outlive this
    # derived projection, not the operator's own result object
    return carry_caches(
        pairs.select(
            "id_a",
            "id_b",
            "cos_sim",
            F.lit(1.0).alias("candidate_fraction"),
        ),
        pairs,
    )


@query(
    "dedup_embedding_scaled",
    oracle=f"""
        WITH v AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5)
            FROM embeddings
        ),
        {_cp_key_ctes(bands=4, rank=1, dynamic_arity=True)}
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(list_cosine_similarity(a.vec, b.vec), 6) AS cos_sim,
               ROUND(n_cand * 2.0 / (n * (n - 1)), 6) AS candidate_fraction
        FROM v a JOIN v b ON a.id < b.id, cpstat
        WHERE ROUND(list_cosine_similarity(a.vec, b.vec), 6) >= 0.999999
    """,
)
def dedup_embedding_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-scaled duplicate embeddings (the normalization-variant dup an
    ingestion pipeline actually hunts): each vector is planted back at
    half scale, and the job finds cosine ≥ 0.999999 pairs with
    cross-polytope blocking (4 bands, rank-1 ARITY-SIZED keys) +
    exact verify. This is the regime where LSH blocking earns its
    pruning: the signed-argmax key is SCALE-INVARIANT, so
    direction-identical vectors share every band key at ANY arity
    (recall = 1 by construction), while background pairs collide at
    ~1/(2·dim)^m per band. Since round 7 the key arity m grows with
    the corpus — ``cp_arity`` on the parquet-footer row count, the
    round-6 scaling rule that kills the n²/(2d)^m background-
    collision term the fixed-arity config measured at exponent 1.55;
    the oracle replays m from COUNT(*) with the same exact integer
    rule. At sf0.01 (n=1000, m=1) behavior is bit-identical to the
    pre-r7 rank-1 config; at sf0.1 (n=4000) m=2 engages. The audited
    ``candidate_fraction`` stays on the table as a verified number.
    Oracle = brute-force all-pairs over the same planted union, plus
    the md5-replayed arity keys for the fraction column."""
    from pyspark.sql import functions as F

    from spark_query_engine.operators import similarity as S

    emb = load(spark, sf_dir, "embeddings")
    n_planted = 2 * footer_rows(spark, sf_dir, "embeddings")
    # cast-to-double BEFORE scaling, mirroring the oracle's
    # CAST(... AS DOUBLE[]) -> x * 0.5, so planted values are bit-equal
    base = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    planted = base.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(0.5)).alias(
            "embedding"
        ),
    )
    u = base.unionByName(planted)
    return S.cp_near_duplicates(
        u,
        "vec_id",
        "embedding",
        threshold=0.999999,
        bands=4,
        probe_rank=1,
        n_rows=n_planted,
    )


@query(
    "dedup_incremental",
    oracle=f"""
        WITH {_WORD_SHINGLES},
        inter AS (
            SELECT a.doc_id AS corpus_id, b.doc_id AS new_id, COUNT(*) AS n_inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle
             AND a.doc_id < 250 AND b.doc_id >= 250
            GROUP BY 1, 2
        )
        SELECT corpus_id, new_id,
               ROUND(n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes za ON za.doc_id = corpus_id
        JOIN sizes zb ON zb.doc_id = new_id
        WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.6
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: a NEW batch (doc_id ≥
    250 here) is checked against the EXISTING corpus (doc_id < 250)
    without re-comparing the corpus to itself. The shingle equi-join
    is one-sided (new ⋈ corpus), so per-batch cost is O(batch), not
    O(corpus): at 100 TB the corpus side is a pre-built shingle/
    signature index read from storage, and only the batch side is
    computed fresh."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, "doc_id", "text", 3).persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    corpus = sh.where(F.col("id") < 250).alias("a")
    new = sh.where(F.col("id") >= 250).alias("b")
    inter = (
        corpus.join(new, F.col("a.shingle") == F.col("b.shingle"))
        .groupBy(
            F.col("a.id").alias("corpus_id"), F.col("b.id").alias("new_id")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.alias("za"), F.col("za.id") == F.col("corpus_id"))
        .join(sizes.alias("zb"), F.col("zb.id") == F.col("new_id"))
        .select(
            "corpus_id",
            "new_id",
            F.round(
                F.col("n_inter")
                / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.6)
    )


@query(
    "dedup_chain_recursive",
    oracle=f"""
        WITH RECURSIVE
        {_WORD_SHINGLES},
        {_SHINGLE_INTER},
        dag AS (
            SELECT id_a AS u, id_b AS v
            {_INTER_SIZES}
            WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.6
        ),
        walk(src, cur, depth) AS (
            SELECT u, u, 0 FROM (SELECT DISTINCT u FROM dag) s(u)
            UNION ALL
            SELECT w.src, d.v, w.depth + 1
            FROM walk w JOIN dag d ON d.u = w.cur
        )
        SELECT src AS doc_id,
               MAX(cur) AS furthest_dup,
               MAX(depth) AS chain_len,
               COUNT(DISTINCT cur) - 1 AS n_reachable
        FROM walk
        GROUP BY src
    """,
)
def dedup_chain_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-chain spread via a RECURSIVE CTE (Spark 4's
    ``WITH RECURSIVE``): orient the verified near-dup pairs into a
    DAG (id_a < id_b, the orientation the pair relation already has),
    then walk every increasing chain — per origin document: the
    furthest transitive duplicate, the longest chain, and how many
    documents its duplication reaches. Chains are how template drift
    shows up (A≈B, B≈C, but A̸≈C): pairwise dedup misses them,
    closure-by-chain finds them — this is the declarative twin of the
    iterative ``connected_components`` loop, expressed in ONE SQL
    statement with the engine driving the fixpoint.

    Termination/scale: every step strictly increases the node id, so
    recursion depth is bounded by the longest increasing chain (dup
    clusters are shallow); each recursion round is one hash equi-join
    of the frontier against the DAG — the same shuffle shape as the
    manual loop, but scheduled by Catalyst. UNION ALL enumerates
    increasing paths, which is exponential on a CLIQUE — fine for
    near-dup clusters (small, sparse after verification); for
    adversarial graphs use the iterative operator instead."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_near_duplicates(
        docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        threshold=0.6,
    ).select("id_a", "id_b")
    # materialize: each recursion round re-reads this relation, and an
    # unpersisted view would re-run the whole LSH pipeline per round.
    # r11: EAGER localCheckpoint replaces persist+count — one job
    # either way, but the recursion's per-round references now analyze
    # a leaf instead of the full LSH lineage (the cascade-census
    # pattern).
    pairs = cut_lineage(pairs)
    pairs.createOrReplaceTempView("dedup_chain_pairs")
    out = spark.sql(
        """
        WITH RECURSIVE
        walk(src, cur, depth) AS (
            SELECT u, u, 0
            FROM (SELECT DISTINCT id_a AS u FROM dedup_chain_pairs)
            UNION ALL
            SELECT w.src, d.id_b, w.depth + 1
            FROM walk w JOIN dedup_chain_pairs d ON d.id_a = w.cur
        )
        SELECT src AS doc_id,
               MAX(cur) AS furthest_dup,
               MAX(depth) AS chain_len,
               COUNT(DISTINCT cur) - 1 AS n_reachable
        FROM walk
        GROUP BY src
        """
    )
    return release_on_drop(out, pairs)


@query(
    "dedup_ngram_prefix",
    oracle=f"""
        WITH {_WORD_SHINGLES},
        {_SHINGLE_INTER}
        SELECT id_a, id_b,
               ROUND(n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter), 6)
                   AS jaccard
        {_INTER_SIZES}
        WHERE ROUND(n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter), 6) >= 0.6
    """,
)
def dedup_ngram_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard (PPJoin-style): the oracle is the
    FULL all-shingle brute force, so a green row is a losslessness
    proof — the rarity-ordered prefix join (each doc contributes only
    its |d| - ⌈0.6·|d|⌉ + 1 globally-rarest shingles to the pair
    generation) finds exactly the pairs the exhaustive join finds,
    while joining a (1-t)-sized, hot-shingle-free slice of the
    shingle relation. See operators/dedup.ngram_jaccard_prefix_pairs
    for the integer-arithmetic prefix bound."""
    docs = load(spark, sf_dir, "documents")
    return D.ngram_jaccard_prefix_pairs(
        docs, "doc_id", "text", n=3, threshold=0.6
    )


@query(
    "dedup_containment",
    oracle=f"""
        WITH {_WORD_SHINGLES},
        {_SHINGLE_INTER},
        directed AS (
            SELECT id_a AS contained, id_b AS container,
                   ROUND(n_inter * 1.0 / za.n_sh, 6) AS containment
            FROM inter
            JOIN sizes za ON za.doc_id = id_a
            UNION ALL
            SELECT id_b, id_a, ROUND(n_inter * 1.0 / zb.n_sh, 6)
            FROM inter
            JOIN sizes zb ON zb.doc_id = id_b
        )
        SELECT contained, container, containment
        FROM directed
        WHERE containment >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT detection — the asymmetric cousin of Jaccard dedup:
    |A∩B| / |A| >= 0.8 flags documents mostly INCLUDED in another
    (quotes, excerpts, page-in-page boilerplate) that symmetric
    similarity misses whenever the container is much longer (J =
    |∩|/|∪| collapses as |B| grows, containment does not). Same
    blocked shingle equi-join as the Jaccard path — one extra
    projection per direction, no new shuffle — and the directed gate
    uses the 6dp-rounded ratio, so pair membership is engine-exact.
    This is the dedup decision behind "drop the snippet, keep the
    source" in corpus curation."""
    docs = load(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, "doc_id", "text", 3).persist()
    both = D.shingle_overlap(sh)
    fwd = both.select(
        F.col("id_a").alias("contained"),
        F.col("id_b").alias("container"),
        F.round(F.col("n_inter") / F.col("na"), 6).alias("containment"),
    )
    rev = both.select(
        F.col("id_b").alias("contained"),
        F.col("id_a").alias("container"),
        F.round(F.col("n_inter") / F.col("nb"), 6).alias("containment"),
    )
    return fwd.unionByName(rev).where(F.col("containment") >= 0.8)


@query(
    "dedup_bloom_incremental",
    oracle="""
        WITH fp AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS f,
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10
                       = 0 AS in_batch
            FROM documents
        ),
        corpus AS (SELECT DISTINCT f FROM fp WHERE NOT in_batch),
        bits AS (
            SELECT DISTINCT
                   ('0x' || substr(md5(f || ':' || i::VARCHAR),
                                   1, 8))::BIGINT % 16384 AS pos
            FROM corpus, UNNEST(range(0, 3)) AS t(i)
        ),
        bpos AS (
            SELECT b.doc_id, b.f,
                   ('0x' || substr(md5(b.f || ':' || i::VARCHAR),
                                   1, 8))::BIGINT % 16384 AS pos
            FROM (SELECT * FROM fp WHERE in_batch) b,
                 UNNEST(range(0, 3)) AS t(i)
        ),
        passed AS (
            SELECT doc_id, f, COUNT(*) = 3 AS passed_bloom
            FROM (SELECT bpos.doc_id, bpos.f, bpos.pos FROM bpos
                  JOIN bits USING (pos))
            GROUP BY doc_id, f
        )
        SELECT b.doc_id,
               COALESCE(p.passed_bloom, FALSE) AS passed_bloom,
               b.f IN (SELECT f FROM corpus) AS is_dup
        FROM (SELECT * FROM fp WHERE in_batch) b
        LEFT JOIN passed p ON b.doc_id = p.doc_id
    """,
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup — the production composition
    of ``data_bloom_fpr_audit`` and ``dedup_incremental``: an
    ingest batch (a deterministic 10% slice) checks its normalized
    fingerprints against a bloom built from the EXISTING corpus
    before paying for the exact anti-join. The bloom's
    no-false-negative contract is what makes the composition sound
    (every true duplicate passes the bloom — visible in the output:
    is_dup ⇒ passed_bloom); false positives only cost a redundant
    exact check.

    At 100 TB this is the shape that matters: the bloom is O(m) bits
    regardless of corpus size and BROADCASTS to the ingest job, so
    the overwhelmingly-novel batch skips the corpus-wide shuffle
    entirely — only bloom-passing rows reach the exact join."""
    docs = load(spark, sf_dir, "documents")
    m_bits, k_hashes = 16384, 3
    norm_fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    )
    in_batch = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 10
        == 0
    )
    fp = docs.select(
        "doc_id", norm_fp.alias("f"), in_batch.alias("in_batch")
    ).persist()
    corpus = fp.where(~F.col("in_batch")).select("f").distinct().persist()

    def pos(col, i):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(col, F.lit(f":{i}"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % m_bits
        )

    bits = corpus.select(
        F.explode(
            F.array(*[pos(F.col("f"), i) for i in range(k_hashes)])
        ).alias("pos")
    ).distinct()
    batch = fp.where(F.col("in_batch")).select("doc_id", "f").persist()
    bpos = batch.select(
        "doc_id",
        F.explode(
            F.array(*[pos(F.col("f"), i) for i in range(k_hashes)])
        ).alias("pos"),
    )
    passed = (
        bpos.join(bits, "pos")
        .groupBy("doc_id")
        .agg((F.count(F.lit(1)) == k_hashes).alias("passed_bloom"))
    )
    dup = batch.join(corpus, "f", "left_semi").select(
        "doc_id", F.lit(True).alias("is_dup")
    )
    return (
        batch.join(passed, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("passed_bloom", F.lit(False)).alias("passed_bloom"),
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


@query(
    "dedup_cluster_purity",
    oracle=f"""
        WITH RECURSIVE
        {_WORD_SHINGLES},
        {_SHINGLE_INTER},
        pairs AS (
            SELECT id_a, id_b,
                   ROUND(n_inter * 1.0 /
                         (za.n_sh + zb.n_sh - n_inter), 6) AS jac
            {_INTER_SIZES}
            WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.6
        ),
        edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT u AS n FROM edges),
        reach(n, m) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT r.n, e.v FROM reach r JOIN edges e ON e.u = r.m
        ),
        comp AS (SELECT n AS id, MIN(m) AS component FROM reach GROUP BY n)
        SELECT ca.component,
               (SELECT COUNT(*) FROM comp c2
                WHERE c2.component = ca.component) AS n_members,
               COUNT(*) AS n_edges,
               ROUND(MIN(p.jac), 6) AS min_edge_jaccard,
               ROUND(MAX(p.jac), 6) AS max_edge_jaccard
        FROM pairs p JOIN comp ca ON p.id_a = ca.id
        GROUP BY ca.component
    """,
)
def dedup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster purity audit — the quality gate on TRANSITIVE
    deduplication: connected components chain A~B~C into one cluster
    even when A and C are dissimilar, so before collapsing a cluster
    to one keeper you want its weakest internal edge on the table. A
    cluster whose min edge Jaccard sits far below the threshold is a
    chaining artifact (split it or raise the threshold); tight
    clusters collapse safely. Per component: size, edge count, and
    the edge-similarity envelope.

    Composition: the verified near-dup pairs (banded MinHash-LSH,
    never all-pairs) + the iterative CC operator + one component-
    keyed rollup of edges — the audit costs one extra join over what
    ``corpus_dedup_keep_best`` already runs. The oracle replays the
    pair brute-force and the recursive closure."""
    docs = load(spark, sf_dir, "documents")
    # r11: lazy localCheckpoint instead of persist — pairs feeds both
    # the CC operator and the edge rollup join; the checkpoint keeps
    # the single-evaluation barrier AND truncates the deep MinHash
    # lineage to a leaf in each reference's analyzed plan (the
    # cascade-census pattern).
    pairs = D.minhash_near_duplicates(
        docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        threshold=0.6,
    )
    pairs = cut_lineage(pairs, eager=False)
    comp = D.connected_components(pairs)
    sizes_df = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    edges = pairs.join(
        comp.withColumnRenamed("id", "id_a"), "id_a"
    )
    return (
        edges.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.round(F.min("jaccard"), 6).alias("min_edge_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_edge_jaccard"),
        )
        .join(sizes_df, "component")
        .select(
            "component",
            "n_members",
            "n_edges",
            "min_edge_jaccard",
            "max_edge_jaccard",
        )
    )


@query(
    "dedup_bag_jaccard",
    oracle=f"""
        WITH {_WORD_SHINGLES},
        {_SHINGLE_INTER},
        cand AS (
            SELECT id_a, id_b
            {_INTER_SIZES}
            WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.6
        ),
        toks AS (
            SELECT doc_id, tok, COUNT(*) AS c FROM (
                SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> '' GROUP BY doc_id, tok
        ),
        bag AS (SELECT doc_id, SUM(c) AS n FROM toks GROUP BY doc_id),
        ov AS (
            SELECT p.id_a, p.id_b,
                   SUM(LEAST(ta.c, tb.c)) AS n_min
            FROM cand p
            JOIN toks ta ON ta.doc_id = p.id_a
            JOIN toks tb ON tb.doc_id = p.id_b AND tb.tok = ta.tok
            GROUP BY p.id_a, p.id_b
        )
        SELECT ov.id_a, ov.id_b,
               ROUND(ov.n_min * 1.0 /
                     (ba.n + bb.n - ov.n_min), 6) AS bag_jaccard
        FROM ov
        JOIN bag ba ON ba.doc_id = ov.id_a
        JOIN bag bb ON bb.doc_id = ov.id_b
    """,
)
def dedup_bag_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) Jaccard over the LSH candidate pairs: Σmin(cᵃ,
    cᵇ) / Σmax — the multiplicity-aware similarity that SET Jaccard
    overstates on repetitive text (a doc that repeats one sentence
    ten times set-matches its single-copy twin perfectly; bag
    similarity exposes the inflation). The dedup literature's usual
    fix when near-dup pairs look better than they read.

    Candidates ride the banded MinHash pipeline (never all-pairs);
    each pair's overlap is a token-keyed equi-join of two bounded
    count vectors; every quantity is an exact integer until the one
    final rounding."""
    docs = load(spark, sf_dir, "documents")
    mh = D.minhash_near_duplicates(
        docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        threshold=0.6,
    )
    cand = mh.select("id_a", "id_b")
    toks = (
        widen(docs).select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    bag = toks.groupBy("doc_id").agg(F.sum("c").alias("n"))
    ta = toks.select(
        F.col("doc_id").alias("id_a"), "tok", F.col("c").alias("ca")
    )
    tb = toks.select(
        F.col("doc_id").alias("id_bb"),
        F.col("tok").alias("tok_b"),
        F.col("c").alias("cb"),
    )
    ov = (
        cand.join(ta, "id_a")
        .join(
            tb,
            (F.col("id_b") == F.col("id_bb"))
            & (F.col("tok") == F.col("tok_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("ca", "cb")).alias("n_min"))
    )
    ba = bag.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    bb = bag.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return carry_caches(
        ov.join(ba, "id_a")
        .join(bb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_min")
                / (F.col("na") + F.col("nb") - F.col("n_min")),
                6,
            ).alias("bag_jaccard"),
        ),
        mh,
    )


@query(
    "dedup_threshold_sweep",
    oracle=f"""
        WITH {_WORD_SHINGLES},
        {_SHINGLE_INTER},
        jac AS (
            SELECT ROUND(n_inter * 1.0 /
                         (za.n_sh + zb.n_sh - n_inter), 6) AS j
            {_INTER_SIZES}
            WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.6
        ),
        ths AS (SELECT UNNEST([0.6, 0.7, 0.8, 0.9, 0.95]) AS th)
        SELECT ths.th AS threshold,
               CAST(COALESCE(SUM(CASE WHEN jac.j >= ths.th
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_pairs
        FROM ths LEFT JOIN jac ON TRUE
        GROUP BY ths.th
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity sweep: how many near-dup pairs survive at
    each Jaccard cut from 0.6 to 0.95 — the one-glance answer to
    'how sharp is the duplicate cliff' that decides where to set the
    production threshold (a flat curve means the choice is safe; a
    cliff means small threshold moves swing the dedup rate). ONE
    pass of the banded LSH + exact-verify pipeline scores the pairs;
    the sweep itself is a 5-row dimension joined against the (small)
    verified-pair relation — five thresholds cost one."""
    docs = load(spark, sf_dir, "documents")
    mh = D.minhash_near_duplicates(
        docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        threshold=0.6,
    )
    pairs = mh.select("jaccard").persist()
    ths = pairs.sparkSession.createDataFrame(
        [(0.6,), (0.7,), (0.8,), (0.9,), (0.95,)], "th double"
    )
    return release_on_drop(
        carry_caches(
            ths.join(F.broadcast(pairs), F.lit(True), "left")
            .groupBy("th")
            .agg(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("jaccard") >= F.col("th"), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_pairs")
            )
            .select(F.col("th").alias("threshold"), "n_pairs"),
            mh,
        ),
        pairs,
    )


@query(
    "dedup_source_attribution",
    oracle=f"""
        WITH {_WORD_SHINGLES},
        {_SHINGLE_INTER},
        pairs AS (
            SELECT id_a, id_b
            {_INTER_SIZES}
            WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.6
        )
        SELECT LEAST(da.source, db.source) AS source_x,
               GREATEST(da.source, db.source) AS source_y,
               COUNT(*) AS n_pairs,
               LEAST(da.source, db.source)
                   = GREATEST(da.source, db.source) AS within_source
        FROM pairs p
        JOIN documents da ON da.doc_id = p.id_a
        JOIN documents db ON db.doc_id = p.id_b
        GROUP BY 1, 2
    """,
)
def dedup_source_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-pressure attribution to ingestion feeds: every
    verified near-dup pair tagged with its (source, source)
    combination — within-source pairs point at a feed re-crawling
    itself; cross-source pairs at mirrored content (and tell you
    which feed to drop when dedup keeps only one copy). The question
    every 'why is the dedup rate up' incident starts with. Pairs
    ride the banded LSH pipeline; source tagging is two id-keyed
    hash joins; the census is |sources|²-bounded."""
    docs = load(spark, sf_dir, "documents")
    mh = D.minhash_near_duplicates(
        docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        threshold=0.6,
    )
    pairs = mh.select("id_a", "id_b")
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    tagged = pairs.join(sa, "id_a").join(sb, "id_b")
    sx = F.least("sa", "sb")
    sy = F.greatest("sa", "sb")
    return carry_caches(
        tagged.groupBy(sx.alias("source_x"), sy.alias("source_y")).agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.first(sx == sy).alias("within_source"),
        ),
        mh,
    )


@query(
    "dedup_cp_band_balance",
    oracle=f"""
        WITH v AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ),
        {_cp_key_ctes(bands=32, rank=2)},
        occ AS (SELECT b, k1, COUNT(*) AS n FROM cpkeys GROUP BY 1, 2)
        SELECT b AS band,
               COUNT(*) AS n_buckets,
               MAX(n) AS max_bucket,
               ROUND(MAX(n) * 1.0 / SUM(n), 6) AS top_share
        FROM occ GROUP BY b
    """,
)
def dedup_cp_band_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-occupancy audit for the cross-polytope blocker (the
    ``corpus_ivf_occupancy`` discipline applied to the CP hash): per
    band, how many distinct rank-1 buckets exist, the largest bucket,
    and its share of the corpus. The per-bucket pair cost of
    ``dedup_embedding_cosine`` is O(occupancy²), so a band whose top
    bucket holds a large corpus share is a skew bomb — this puts the
    hash-balance claim (2·dim near-uniform outcomes per band) on the
    table as a verified number next to ``candidate_fraction``. Two
    hash aggregations over the signature relation; the oracle replays
    the rotations and keys from md5 alone."""
    from spark_query_engine.operators import similarity as S

    keys = S.cp_keys(
        load(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        S.cp_rotations(32, 64),
    )
    occ = keys.groupBy(
        F.col("band").cast("bigint").alias("band"), "k1"
    ).agg(F.count(F.lit(1)).alias("n"))
    return occ.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.round(F.max("n") / F.sum("n"), 6).alias("top_share"),
    )
