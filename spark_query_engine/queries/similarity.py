"""Similarity-search queries over the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_query_engine.operators import carry_caches, nested_sql, widen
from spark_query_engine.operators import similarity as S
from spark_query_engine.queries import load, query

#: LSH geometry (r8): the PLANE COUNT is footer-sized —
#: max(8, ⌈log₂(⌈n/64⌉)⌉) — so the probed bucket holds ~64 vectors at
#: any corpus size; a FIXED plane count leaves bucket size ∝ n/2^p
#: (the r8 fixed-denominator blocking defect class — n/256 is 390 GB
#: per probe at 100 TB). The 24-plane SUPERSET below covers corpora
#: to ~2^24·64 ≈ 1e9 rows; numpy's RandomState fills row-major, so
#: its first 8 rows are bit-identical to the historical 8-plane set
#: (pytest-asserted) and results at sf0.01/sf0.1 are unchanged. Both
#: engines derive the active count from the corpus: the oracle as the
#: scalar subquery below (CEIL∘LOG2 of an exact integer — same libm
#: on both engines; a ceil flip would need log₂ within 1 ulp of an
#: integer, i.e. an exact power of two, where log₂ is exact), the
#: engine from the parquet footer via ``_n_planes``.
_MAX_PLANES = 24
_PLANES = S.random_hyperplanes(n_planes=_MAX_PLANES, dim=64, seed=7)
#: Both the Python side and the SQL scalar subquery clamp to the
#: superset bound (and guard the empty-corpus LOG2(0)) so the
#: degradation past ~2^24·64 rows — bucket occupancy grows past the
#: documented ~64 once the superset is exhausted — is explicit and
#: engine/oracle stay bit-consistent on every corpus size including 0.
_NPLANES_EXPR = (
    f"(SELECT LEAST({_MAX_PLANES}, GREATEST(8, "
    "CAST(CEIL(LOG2(GREATEST(1, (COUNT(*) + 63) // 64))) AS BIGINT)))"
    " FROM embeddings)"
)


def _n_planes(n: int) -> int:
    import math

    return min(_MAX_PLANES, max(8, math.ceil(math.log2(max(1, (n + 63) // 64)))))


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Driver-side fetch of ONE query vector (a scalar parameter of the
    search, not a data-plane collect)."""
    row = (
        load(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == vec_id)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row[0]]


def _planes_values_sql() -> str:
    rows = []
    for p, plane in enumerate(_PLANES):
        for d, w in enumerate(plane):
            rows.append(f"({p},{d},{w!r})")
    return ",".join(rows)


@query(
    "ann_bruteforce_topk",
    oracle="""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id AS id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
                   AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, id
        LIMIT 10
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors of vec_id 0: broadcast query
    vector, single scan, TakeOrderedAndProject — the brute-force ANN
    baseline that stays viable to ~1e9 rows."""
    qv = _query_vec(spark, sf_dir, 0)
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    return S.cosine_topk(emb, "vec_id", "embedding", qv, k=10)


@query(
    "ann_lsh_topk",
    oracle=f"""
        WITH planes(p, d, w) AS (VALUES {_planes_values_sql()}),
        dots AS (
            SELECT e.vec_id, pl.p,
                   SUM(pl.w * CAST(e.embedding[pl.d + 1] AS DOUBLE)) AS dot
            FROM embeddings e, planes pl
            WHERE pl.p < {_NPLANES_EXPR}
            GROUP BY e.vec_id, pl.p
        ),
        buckets AS (
            SELECT vec_id,
                   SUM(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
            FROM dots GROUP BY vec_id
        ),
        qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
        q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id AS id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
                   AS cos_sim
        FROM embeddings e
        JOIN buckets b ON b.vec_id = e.vec_id
        JOIN qb ON b.bucket = qb.bucket
        CROSS JOIN q
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, id
        LIMIT 5
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: footer-sized random hyperplanes (fixed seed,
    literal weights — identical in the oracle; count ⌈log₂⌈n/64⌉⌉
    with the historical floor of 8, see ``_n_planes``) → probe only
    the query's bucket → exact cosine rank within it. A bucket holds
    ~64 vectors at any corpus size, against n/256 with fixed planes.
    The plan scans every embedding and computes its bucket, then
    filters on the query's bucket, so the bucket cuts the rerank, not
    the scan: nothing is pruned before the hashing.

    Cross-engine sign stability: the oracle computes plane·vec with an
    unordered SUM while Spark uses a sequential fold, so order-dependent
    float error (~1e-12 for 64 terms) could in principle flip a sign
    and land the two engines in different buckets — but the measured
    minimum |plane·vec| over every (vector, plane) is 1.2e-4 at sf0.01
    and 5.0e-5 at sf0.1, eight orders of magnitude above that error, so
    the bucket assignment is deterministic on this corpus."""
    qv = _query_vec(spark, sf_dir, 0)
    emb = load(spark, sf_dir, "embeddings")
    from spark_query_engine.queries import footer_rows

    planes = _PLANES[: _n_planes(footer_rows(spark, sf_dir, "embeddings"))]
    return S.ann_topk_lsh(
        emb, "vec_id", "embedding", qv, planes, k=5, exclude_id=0
    )


@query(
    "ann_range_search",
    oracle="""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id AS id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
                   AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
          AND ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
              >= 0.2
    """,
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine radius search: ALL vectors within similarity >= 0.2 of
    vec_id 0 — the retrieval twin of top-k (top-k bounds result count,
    radius bounds result quality). Broadcast query vector, one scan,
    filter — zero shuffle, and unlike top-k there is no ordered
    collect, so the result streams to a sink at any scale."""
    qv = _query_vec(spark, sf_dir, 0)
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    return S.cosine_range(emb, "vec_id", "embedding", qv, threshold=0.2)


@query(
    "ann_hybrid_search",
    oracle="""
        WITH qt AS (
            SELECT DISTINCT UNNEST(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id = 0
        ),
        dt AS (
            SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id <> 0
        ),
        lex AS (
            SELECT d.doc_id AS id, COUNT(*) AS lex_score
            FROM dt d JOIN qt USING (tok) GROUP BY 1
        ),
        lex_top AS (
            SELECT id, lex_score,
                   ROW_NUMBER() OVER (ORDER BY lex_score DESC, id) AS r_lex
            FROM lex
            QUALIFY r_lex <= 50
        ),
        q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id = 0
        ),
        vec AS (
            SELECT e.vec_id AS id,
                   ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos_sim
            FROM embeddings e, q
            WHERE e.vec_id <> 0
        ),
        vec_top AS (
            SELECT id, cos_sim,
                   ROW_NUMBER() OVER (ORDER BY cos_sim DESC, id) AS r_vec
            FROM vec
            QUALIFY r_vec <= 50
        )
        SELECT COALESCE(l.id, v.id) AS id,
               l.lex_score, v.cos_sim,
               ROUND(1.0 / (60 + COALESCE(l.r_lex, 51))
                     + 1.0 / (60 + COALESCE(v.r_vec, 51)), 8) AS rrf
        FROM lex_top l FULL OUTER JOIN vec_top v ON l.id = v.id
        ORDER BY rrf DESC, id
        LIMIT 15
    """,
)
def ann_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse a LEXICAL candidate list (distinct-token
    overlap with the query document — the integer-exact core of BM25)
    and a VECTOR candidate list (cosine top-K) by reciprocal-rank
    fusion, RRF(d) = Σ 1/(60 + rank_m(d)) — the standard way RAG /
    training-data retrieval stacks combine keyword and embedding
    signals without score calibration.

    Scale: each modality reduces to a per-modality top-K FIRST
    (TakeOrderedAndProject — no global sort, no global window), and
    ranking/fusion happen on the two K-row candidate lists, so the
    expensive stages are exactly the ones the pure-lexical and
    pure-vector operators already run; fusion adds one K-row outer
    join. Docs sharing zero query tokens are lexically unreachable
    (standard inverted-index behavior); absent ranks take the K+1
    penalty. Integer overlap counts and 6dp-rounded cosines make both
    rank orders — and the fused 8dp RRF — engine-exact."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    qt = docs.where(F.col("doc_id") == 0).select(
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    dt = widen(docs.where(F.col("doc_id") != 0)).select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    lex = (
        dt.join(F.broadcast(qt), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("lex_score"))
        .select(F.col("doc_id").alias("id"), "lex_score")
    )
    lex_top = lex.orderBy(F.desc("lex_score"), "id").limit(50).withColumn(
        "r_lex",
        F.row_number().over(
            Window.orderBy(F.desc("lex_score"), "id")
        ),
    )
    qv = _query_vec(spark, sf_dir, 0)
    emb = load(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    vec_top = S.cosine_topk(emb, "vec_id", "embedding", qv, k=50).withColumn(
        "r_vec",
        F.row_number().over(Window.orderBy(F.desc("cos_sim"), "id")),
    )
    fused = lex_top.join(vec_top, "id", "full_outer").select(
        "id",
        "lex_score",
        "cos_sim",
        F.round(
            1.0 / (60 + F.coalesce("r_lex", F.lit(51)))
            + 1.0 / (60 + F.coalesce("r_vec", F.lit(51))),
            8,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "id").limit(15)


@query(
    "text_bm25_search",
    oracle="""
        WITH toks AS (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
            FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM toks GROUP BY 1, 2
        ),
        dl AS (
            SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
            FROM toks GROUP BY 1
        ),
        corpus AS (
            SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl
        ),
        df AS (
            SELECT tok, COUNT(DISTINCT doc_id) AS df
            FROM toks GROUP BY 1
        ),
        qterms AS (
            SELECT DISTINCT UNNEST(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id = 0
        ),
        scored AS (
            SELECT t.doc_id,
                   COUNT(*) AS n_hit_terms,
                   ROUND(SUM(
                       ln((c.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
                       * t.tf * 2.2
                       / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl))
                   ), 6) AS score
            FROM tf t
            JOIN qterms q ON q.tok = t.tok
            JOIN df f ON f.tok = t.tok
            JOIN dl d ON d.doc_id = t.doc_id
            CROSS JOIN corpus c
            WHERE t.doc_id <> 0
            GROUP BY t.doc_id
        )
        SELECT doc_id AS id, n_hit_terms, score
        FROM scored
        ORDER BY score DESC, id
        LIMIT 20
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 (k1=1.2, b=0.75, Robertson +1 idf) against the query
    document's terms — the ranked upgrade of `ann_hybrid_search`'s
    overlap counter, completing the lexical stack: overlap → BM25 →
    rank fusion. All statistics (tf, df, dl, avgdl, N) come from TWO
    aggregations over one exploded token relation; the query-term and
    df joins are equi-joins on token (the inverted-index access
    pattern), and the 1-row corpus stats broadcast. Ranking and the
    top-20 cut use the 6dp-ROUNDED score (+ id tiebreak) on both
    engines, so membership at the boundary is exact; the rounding also
    absorbs libm last-bit ln() differences and summation order.

    Scale: token relation is O(total tokens); everything downstream is
    keyed aggregation/equi-join — at 100 TB you'd persist tf/df/dl as
    the inverted index and this query becomes its probe."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl")
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    qterms = (
        docs.where(F.col("doc_id") == 0)
        .select(F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
    )
    scored = (
        tf.where(F.col("doc_id") != 0)
        .join(F.broadcast(qterms), "tok")
        .join(df, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.round(
                F.sum(
                    F.log(
                        (F.col("n") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                        + 1.0
                    )
                    * F.col("tf")
                    * 2.2
                    / (
                        F.col("tf")
                        + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("score"),
        )
    )
    return (
        scored.select(F.col("doc_id").alias("id"), "n_hit_terms", "score")
        .orderBy(F.desc("score"), "id")
        .limit(20)
    )


@query(
    "ann_lsh_multiprobe_topk",
    oracle=f"""
        WITH planes(p, d, w) AS (VALUES {_planes_values_sql()}),
        dots AS (
            SELECT e.vec_id, pl.p,
                   SUM(pl.w * CAST(e.embedding[pl.d + 1] AS DOUBLE)) AS dot
            FROM embeddings e, planes pl
            WHERE pl.p < {_NPLANES_EXPR}
            GROUP BY e.vec_id, pl.p
        ),
        buckets AS (
            SELECT vec_id,
                   SUM(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
            FROM dots GROUP BY vec_id
        ),
        qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
        q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id AS id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
                   AS cos_sim
        FROM embeddings e
        JOIN buckets b ON b.vec_id = e.vec_id
        JOIN qb ON bit_count(xor(b.bucket, qb.bucket)) <= 1
        CROSS JOIN q
        WHERE e.vec_id <> 0
        ORDER BY cos_sim DESC, id
        LIMIT 5
    """,
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: probe the query bucket plus all 1-bit-flip
    neighbors (p+1 of 2^p buckets at p footer-sized planes — the
    standard recall repair for vectors that fall just past a
    hyperplane), with each probed bucket holding ~64 vectors at any
    corpus size (``_n_planes``). The probe is a per-row Hamming-ball
    filter on the computed bucket, so it cuts the rerank, not the scan. Exact cosine ranks
    the union; same fixed-seed planes as ``ann_lsh_topk``, replayed
    literally in the oracle down to the bucket bits."""
    qv = _query_vec(spark, sf_dir, 0)
    emb = load(spark, sf_dir, "embeddings")
    from spark_query_engine.queries import footer_rows

    planes = _PLANES[: _n_planes(footer_rows(spark, sf_dir, "embeddings"))]
    return S.ann_topk_lsh_multiprobe(
        emb, "vec_id", "embedding", qv, planes, k=5, max_flips=1,
        exclude_id=0,
    )


@query(
    "ann_filtered_topk",
    oracle="""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv,
                   label AS qlabel
            FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id AS id, e.label,
               ROUND(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0 AND e.label = q.qlabel
        ORDER BY cos_sim DESC, id
        LIMIT 10
    """,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — top-10 neighbors restricted to the
    query vector's own label (the metadata-predicate ANN variant
    every vector store struggles with). The predicate applies BEFORE
    ranking (pre-filtering), so recall is exact under the filter —
    unlike post-filtering a top-k, which can return fewer than k
    (or zero) matching rows.

    Plan: the label predicate and column pruning push into the
    parquet scan, then one TakeOrderedAndProject over the surviving
    rows — at 100 TB with label-partitioned storage the filter
    becomes partition pruning and the scan touches 1/|labels| of the
    data before any distance math runs."""
    q = (
        load(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == 0)
        .select("embedding", "label")
        .head()
    )
    emb = load(spark, sf_dir, "embeddings").where(
        (F.col("vec_id") != 0) & (F.col("label") == int(q["label"]))
    )
    return (
        S.cosine_topk(emb, "vec_id", "embedding", list(q["embedding"]), k=10)
        .join(
            load(spark, sf_dir, "embeddings").select(
                F.col("vec_id").alias("id"), "label"
            ),
            "id",
        )
        .select("id", "label", "cos_sim")
        .orderBy(F.col("cos_sim").desc(), "id")
    )


@query(
    "vec_quality_checks",
    oracle="""
        WITH n AS (
            SELECT vec_id, label,
                   len(embedding) AS dim,
                   sqrt(list_sum(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> x * x))) AS norm,
                   list_sum(list_transform(
                       CAST(embedding AS DOUBLE[]),
                       x -> CASE WHEN x = 0 THEN 1 ELSE 0 END)) AS n_zero
            FROM embeddings
        )
        SELECT label,
               COUNT(*) AS n_vecs,
               CAST(MIN(dim) AS BIGINT) AS min_dim,
               CAST(MAX(dim) AS BIGINT) AS max_dim,
               CAST(SUM(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_vectors,
               CAST(SUM(CASE WHEN n_zero > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_with_zero_component,
               ROUND(MIN(norm), 6) AS min_norm,
               ROUND(MAX(norm), 6) AS max_norm,
               ROUND(SUM(CAST(ROUND(norm * 1000000) AS BIGINT))
                     / 1000000.0, 4) AS norm_mass
        FROM n GROUP BY label
    """,
)
def vec_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table hygiene — the Deequ-style gate for the vector
    side of the lake: per label, dimension consistency (a ragged dim
    breaks every distance kernel downstream), zero-vector count
    (cosine is undefined — these crash or silently rank first),
    zero-component incidence, and the norm envelope (un-normalized
    mixtures poison dot-product indexes).

    Float discipline: each vector's norm is a PER-ROW sequential
    reduction (``aggregate`` fold / list_sum) — order-fixed inside
    the row on both engines, so norms are deterministic; only the
    cross-row aggregates (min/max/mass) need the repo's rounding.
    One scan, one map-side-combined groupBy on label."""
    e = load(spark, sf_dir, "embeddings")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            xd, F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    n_zero = F.aggregate(
        xd,
        F.lit(0),
        lambda acc, x: acc + F.when(x == 0, 1).otherwise(0),
    )
    n = e.select(
        "label",
        F.size("embedding").alias("dim"),
        norm.alias("norm"),
        n_zero.alias("n_zero"),
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("dim").cast("bigint").alias("min_dim"),
        F.max("dim").cast("bigint").alias("max_dim"),
        F.sum(F.when(F.col("norm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_vectors"),
        F.sum(F.when(F.col("n_zero") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_zero_component"),
        F.round(F.min("norm"), 6).alias("min_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
        # exact-integer-moment discipline: quantize per-row norms to
        # 1e6-scaled BIGINTs and SUM exactly — a float SUM over a
        # corpus-sized group can flip the 4dp round with partition
        # order (the round-4 vec_covariance_matrix lesson)
        F.round(
            F.sum(F.round(F.col("norm") * 1000000, 0).cast("bigint"))
            / 1000000.0,
            4,
        ).alias("norm_mass"),
    )


@query(
    "vec_int8_quantize_audit",
    oracle="""
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec,
                   list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> ABS(x))) AS scale
            FROM embeddings
        ),
        err AS (
            SELECT vec_id, label, scale,
                   list_max(list_transform(vec,
                       x -> ABS(x - FLOOR(127.0 * x / scale + 0.5)
                                   * scale / 127.0))) AS max_err
            FROM v WHERE scale > 0
        )
        SELECT label,
               COUNT(*) AS n_vecs,
               ROUND(MAX(max_err / scale), 6) AS worst_rel_err,
               CAST(SUM(CASE WHEN max_err <= scale / 254.0 * 1.0000001
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_within_bound,
               SUM(CASE WHEN max_err <= scale / 254.0 * 1.0000001
                        THEN 1 ELSE 0 END) = COUNT(*) AS bound_holds
        FROM err GROUP BY label
    """,
)
def vec_int8_quantize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization audit — the 4× embedding-storage
    compression every vector lake runs, with its error contract
    verified as output: quantize each component to
    FLOOR(127·x/scale + 0.5) (scale = per-vector max |x|; floor-form
    so both engines round identically), dequantize, and certify the
    max reconstruction error stays within the half-step bound
    scale/254 per label. ``worst_rel_err`` puts the realized error
    beside the theoretical 1/254 ≈ 0.00394.

    Per-row work is an order-fixed list fold (deterministic doubles
    both engines — same discipline as ``vec_quality_checks``); one
    scan, one label-keyed rollup. The quantized table itself is this
    expression written to int8 columns — the audit IS the writer's
    verification pass."""
    e = load(spark, sf_dir, "embeddings")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.array_max(F.transform(xd, lambda x: F.abs(x)))
    v = e.select("vec_id", "label", xd.alias("vec"), scale.alias("scale"))
    q_err = F.array_max(
        F.transform(
            "vec",
            lambda x: F.abs(
                x
                - F.floor(127.0 * x / F.col("scale") + 0.5)
                * F.col("scale")
                / 127.0
            ),
        )
    )
    err = v.where(F.col("scale") > 0).select(
        "label", "scale", q_err.alias("max_err")
    )
    within = F.col("max_err") <= F.col("scale") / 254.0 * 1.0000001
    return err.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.max(F.col("max_err") / F.col("scale")), 6).alias(
            "worst_rel_err"
        ),
        F.sum(F.when(within, 1).otherwise(0))
        .cast("bigint")
        .alias("n_within_bound"),
        (
            F.sum(F.when(within, 1).otherwise(0)) == F.count(F.lit(1))
        ).alias("bound_holds"),
    )


@query(
    "vec_doc_referential_audit",
    oracle="""
        SELECT 'vectors_without_doc' AS check_name,
               (SELECT COUNT(*) FROM embeddings e
                WHERE e.vec_id NOT IN (SELECT doc_id FROM documents))
                   AS n_rows
        UNION ALL
        SELECT 'docs_without_vector',
               (SELECT COUNT(*) FROM documents d
                WHERE d.doc_id NOT IN (SELECT vec_id FROM embeddings))
        UNION ALL
        SELECT 'aligned_pairs',
               (SELECT COUNT(*) FROM documents d
                JOIN embeddings e ON d.doc_id = e.vec_id)
    """,
)
def vec_doc_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal referential audit between the text and vector
    tables — the drift check every embedding pipeline needs (docs
    re-ingested without re-embedding, vectors orphaned by deletion):
    anti-joins both directions plus the aligned-pair count. All
    three probes are key-equi-joins (LeftAnti/LeftSemi plans, the
    deletion-vector shape); at lake scale both tables bucket on the
    id and the audit runs shuffle-free."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    e = load(spark, sf_dir, "embeddings").select("vec_id")
    orphan_vecs = e.join(d, e.vec_id == d.doc_id, "left_anti").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    orphan_docs = d.join(e, d.doc_id == e.vec_id, "left_anti").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    aligned = d.join(e, d.doc_id == e.vec_id).agg(
        F.count(F.lit(1)).alias("n_rows")
    )

    def tag(df, name):
        return df.select(F.lit(name).alias("check_name"), "n_rows")

    return (
        tag(orphan_vecs, "vectors_without_doc")
        .unionByName(tag(orphan_docs, "docs_without_vector"))
        .unionByName(tag(aligned, "aligned_pairs"))
    )


@query(
    "vec_text_alignment_audit",
    oracle="""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
            FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 3
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) * 1.0 /
                   (ANY_VALUE((SELECT n_sh FROM sizes s
                               WHERE s.doc_id = a.doc_id))
                    + ANY_VALUE((SELECT n_sh FROM sizes s
                                 WHERE s.doc_id = b.doc_id))
                    - COUNT(*)) >= 0.6
        ),
        cs AS (
            SELECT p.id_a, p.id_b,
                   ROUND(list_cosine_similarity(
                       CAST(ea.embedding AS DOUBLE[]),
                       CAST(eb.embedding AS DOUBLE[])), 6) AS cos
            FROM pairs p
            JOIN embeddings ea ON ea.vec_id = p.id_a
            JOIN embeddings eb ON eb.vec_id = p.id_b
        )
        SELECT COUNT(*) AS n_text_pairs,
               ROUND(MIN(cos), 6) AS min_cos,
               ROUND(MAX(cos), 6) AS max_cos,
               CAST(SUM(CASE WHEN cos >= 0.5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_aligned,
               ROUND(SUM(CASE WHEN cos >= 0.5 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS aligned_share
        FROM cs
    """,
)
def vec_text_alignment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consistency audit: do TEXT near-duplicates have
    SIMILAR VECTORS? Every verified MinHash pair (Jaccard ≥ 0.6)
    joins to both documents' embeddings and measures cosine; a
    healthy embedding table puts near-identical texts close together
    — a low aligned share means the vectors predate the text (stale
    re-embeds) or the model ignores the duplicated content. On this
    repo's SYNTHETIC embeddings (random, uncorrelated with text) the
    audit correctly reports near-zero alignment — exactly the broken
    state it exists to detect.

    Shapes: the pair relation rides the banded LSH pipeline; the
    embedding joins are id-keyed hash joins; the rollup is one row."""
    docs = load(spark, sf_dir, "documents")
    from spark_query_engine.operators.dedup import (
        cosine,
        minhash_near_duplicates,
    )

    mh = minhash_near_duplicates(
        docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        threshold=0.6,
    )
    pairs = mh.select("id_a", "id_b")
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    cs = (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select(F.expr(f"round({cosine('va', 'vb')}, 6)").alias("cos"))
    )
    return carry_caches(
        cs.agg(
            F.count(F.lit(1)).alias("n_text_pairs"),
            F.round(F.min("cos"), 6).alias("min_cos"),
            F.round(F.max("cos"), 6).alias("max_cos"),
            F.sum(F.when(F.col("cos") >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_aligned"),
            F.round(
                F.sum(F.when(F.col("cos") >= 0.5, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("aligned_share"),
        ),
        mh,
    )


@query(
    "ann_centroid_margin_audit",
    oracle="""
        WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
                   FROM embeddings),
        c AS (SELECT id AS centroid, vec AS cvec FROM v WHERE id < 8),
        sims AS (
            SELECT v.id, c.centroid,
                   ROUND(list_cosine_similarity(v.vec, c.cvec), 6) AS sim
            FROM v CROSS JOIN c
        ),
        ranked AS (
            SELECT id, centroid, sim,
                   ROW_NUMBER() OVER (PARTITION BY id
                                      ORDER BY sim DESC, centroid) AS rn
            FROM sims
        ),
        margins AS (
            SELECT a.id,
                   ROUND(a.sim - b.sim, 6) AS margin
            FROM ranked a JOIN ranked b
              ON a.id = b.id AND a.rn = 1 AND b.rn = 2
        )
        SELECT COUNT(*) AS n_vectors,
               ROUND(MIN(margin), 6) AS min_margin,
               ROUND(MAX(margin), 6) AS max_margin,
               CAST(SUM(CASE WHEN margin < 0.05 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boundary,
               ROUND(SUM(CASE WHEN margin < 0.05 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS boundary_share
        FROM margins
    """,
)
def ann_centroid_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment-margin audit for the IVF coarse quantizer: per
    vector, the similarity gap between its best and second-best
    centroid — vectors with a thin margin (<0.05) live on list
    boundaries and are exactly the ones single-probe IVF misses,
    so boundary_share PREDICTS how much nprobe>1 buys before you
    measure recall (the planning number behind
    ``ann_recall_eval``'s measured one). One broadcast of the 8-row
    codebook, a per-vector top-2 (WindowGroupLimit-sized), and a
    1-row census."""
    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    from pyspark.sql import Window

    from spark_query_engine.operators.dedup import cosine

    c = v.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid"), F.col("vec").alias("cvec")
    )
    sims = v.crossJoin(F.broadcast(c)).select(
        F.col("vec_id").alias("id"),
        "centroid",
        F.expr(f"round({cosine('vec', 'cvec')}, 6)").alias("sim"),
    )
    w = Window.partitionBy("id").orderBy(F.col("sim").desc(), "centroid")
    ranked = sims.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 2
    )
    best = ranked.where(F.col("rn") == 1).select("id", F.col("sim").alias("s1"))
    second = ranked.where(F.col("rn") == 2).select(
        "id", F.col("sim").alias("s2")
    )
    margins = best.join(second, "id").select(
        F.round(F.col("s1") - F.col("s2"), 6).alias("margin")
    )
    return margins.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.min("margin"), 6).alias("min_margin"),
        F.round(F.max("margin"), 6).alias("max_margin"),
        F.sum(F.when(F.col("margin") < 0.05, 1).otherwise(0))
        .cast("bigint")
        .alias("n_boundary"),
        F.round(
            F.sum(F.when(F.col("margin") < 0.05, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("boundary_share"),
    )


@query(
    "vec_label_balance",
    oracle="""
        WITH c AS (
            SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
        ),
        tot AS (SELECT SUM(n) AS t, COUNT(*) AS k FROM c)
        SELECT c.label, c.n,
               ROUND(c.n * 1.0 / tot.t, 6) AS share,
               ROUND((c.n - tot.t * 1.0 / tot.k)
                     * (c.n - tot.t * 1.0 / tot.k)
                     / (tot.t * 1.0 / tot.k), 6) AS chi2_term
        FROM c CROSS JOIN tot
    """,
)
def vec_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-balance audit for the embedding table: per-class counts,
    shares, and each class's chi-square term against the uniform
    expectation — the imbalance check that decides between plain
    cross-entropy and reweighting/resampling before any classifier
    trains on these vectors (and the denominator sanity for the kNN
    accuracy readout in ``corpus_knn_classify``). One count, a 1-row
    totals cross; the chi-square terms divide exact integers by the
    exact rational expectation."""
    e = load(spark, sf_dir, "embeddings")
    c = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("t"), F.count(F.lit(1)).alias("k"))
    exp = F.col("t") / F.col("k")
    return c.crossJoin(F.broadcast(tot)).select(
        "label",
        "n",
        F.round(F.col("n") / F.col("t"), 6).alias("share"),
        F.round((F.col("n") - exp) * (F.col("n") - exp) / exp, 6).alias(
            "chi2_term"
        ),
    )


def _cp_ann_oracle() -> str:
    from spark_query_engine.queries.dedup import _cp_key_ctes

    return f"""
        WITH v AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ),
        {_cp_key_ctes(bands=16, rank=2)},
        cand AS (SELECT DISTINCT id_b AS id FROM cpcand WHERE id_a = 0),
        qf AS (SELECT vec AS qvec FROM v WHERE id = 0)
        SELECT c.id,
               ROUND(list_cosine_similarity(v.vec, qf.qvec), 6) AS cos_sim
        FROM cand c JOIN v USING (id), qf
        ORDER BY cos_sim DESC, id
        LIMIT 5
    """


@query("ann_cp_topk", oracle=_cp_ann_oracle())
def ann_cp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k probing CROSS-POLYTOPE buckets — the CP hash family's
    third consumer (after the near-dup blocker and its band audit),
    closing the loop with the sign-LSH probe ``ann_lsh_topk``: the
    query's rank-1/rank-2 keys select candidate buckets across 16
    bands, candidates rank by exact cosine, top-5 out. The probe is a
    BROADCAST hash join of the corpus key relation against the 16-row
    query-key relation on the band column — bucket selection costs one
    scan of the (persisted) signature relation, and at scale the
    (band, key) pair is the partition key, so each probe reads only
    its buckets (the ann_lsh_topk pruning contract, with CP's steeper
    collision curve). The oracle replays rotations, keys, multiprobe
    candidates, and the rounded-cosine ranking from md5 alone."""
    from spark_query_engine.operators import similarity as SIM

    emb = load(spark, sf_dir, "embeddings")
    keys = SIM.cp_keys(
        emb, "vec_id", "embedding", SIM.cp_rotations(16, 64)
    )
    qk = keys.where(F.col("id") == 0).select(
        "band", F.col("k1").alias("qk1"), F.col("k2").alias("qk2")
    )
    cand = (
        keys.where(F.col("id") != 0)
        .join(F.broadcast(qk), "band")
        .where(
            (F.col("qk1") == F.col("k1"))
            | (F.col("qk1") == F.col("k2"))
            | (F.col("qk2") == F.col("k1"))
        )
        .select("id")
        .distinct()
    )
    v = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    qvec = _query_vec(spark, sf_dir, 0)
    qlit = nested_sql(qvec)
    from spark_query_engine.operators.dedup import cosine

    return (
        cand.join(v, "id")
        .select("id", F.expr(f"round({cosine('vec', qlit)}, 6)").alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "id")
        .limit(5)
    )
