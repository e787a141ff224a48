"""Training-set assembly operators — round 3 of the LLM-data-pipeline
family. Where ``queries/curation.py`` decides WHAT stays in the
corpus, these queries produce WHAT the trainer actually consumes:
sliding-window chunks, importance-resampled selections, PII-redacted
text, batched ANN retrievals, a composed IVF+PQ index probe, and
winnowing fingerprints (the robust local fingerprinting scheme behind
MOSS-style duplicate detection).

Reference parity note: the reference engine (athultr1997/
rust-query-engine) stops at scan→filter→project→aggregate
(src/logical_plan/mod.rs:12-18); everything here is beyond-parity
capability the brief asks for. Registered in a module OUTSIDE
``_MODULE_PRIORITY`` so these queue behind the still-unverified round-2
backlog in the driver-verification window and enter the hard gate next
round, carrying local oracle verification until then.

Float discipline (repo-wide): every derived float is ROUNDed in BOTH
the Spark query and the DuckDB oracle before compare; sums of logs are
rounded per-term at 6dp and per-doc at 4dp so cross-engine summation
order cannot flip the hash.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_query_engine.operators import (
    blocked_pairs,
    carry_caches,
    cut_lineage,
    nested_sql,
    release_on_drop,
    widen,
)
from spark_query_engine.operators import clustering as C
from spark_query_engine.operators import similarity as S
from spark_query_engine.operators import dedup as D
from spark_query_engine.operators.graph import copurchase_pairs
from spark_query_engine.operators.dedup import cosine
from spark_query_engine.queries import EVENTS_ORACLE, footer_rows, load, query
from spark_query_engine.queries.dedup import _INTER_SIZES, _SHINGLE_INTER
from spark_query_engine.queries.semantic import _kmeans_ctes
from spark_query_engine.queries.text import _SOURCE_TOKS_SQL

#: Sliding-window chunking geometry: 32-token windows, stride 24
#: (25% overlap) — the standard LM pretraining chunker shape.
_CHUNK, _STRIDE = 32, 24


@query(
    "corpus_chunk_sliding",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ),
        s AS (
            SELECT doc_id, tk,
                   unnest(range(0, len(tk), {_STRIDE})) AS st
            FROM t
        )
        SELECT doc_id,
               st // {_STRIDE} AS chunk_idx,
               len(list_slice(tk, st + 1, st + {_CHUNK})) AS n_tokens,
               md5(array_to_string(
                   list_slice(tk, st + 1, st + {_CHUNK}), ' ')) AS chunk_fp
        FROM s
    """,
)
def corpus_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: cut every document into {_CHUNK}-token
    windows advancing by {_STRIDE} tokens (windows overlap by
    {_CHUNK}-{_STRIDE} tokens so no training example straddles a hard
    boundary), the shape every LM pretraining loader consumes.

    Scale: pure narrow transformation — split, a per-row ``sequence``
    of start offsets, one ``explode``; zero shuffles, zero Python,
    output rows ≈ tokens/stride. At 100 TB this runs wholly inside
    whole-stage codegen at scan parallelism, and the chunk relation
    can stream straight to a partitioned parquet sink. The md5 chunk
    fingerprint doubles as the key for cross-chunk exact dedup
    (``dedup_exact`` on chunks instead of documents)."""
    from spark_query_engine.operators.textanalysis import chunk_sliding

    docs = load(spark, sf_dir, "documents")
    return chunk_sliding(
        widen(docs), "doc_id", "text", size=_CHUNK, stride=_STRIDE
    ).withColumnRenamed("id", "doc_id")


@query(
    "corpus_ngram_topk",
    oracle="""
        WITH words AS (
            SELECT doc_id, lang, string_split(text, ' ') AS w
            FROM documents
        ),
        grams AS (
            SELECT lang, concat_ws(' ', w[i], w[i+1], w[i+2]) AS gram
            FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 3
        ),
        counts AS (
            SELECT lang, gram, COUNT(*) AS n
            FROM grams GROUP BY 1, 2
        )
        SELECT lang, gram, n, rnk FROM (
            SELECT lang, gram, n,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY n DESC, gram) AS rnk
            FROM counts)
        WHERE rnk <= 5
    """,
)
def corpus_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word trigrams per language — the corpus-statistics probe
    that drives stopword lists, boilerplate detection, and contamination
    probe selection. NOTE: unlike the dedup family's shingle relation
    this keeps per-occurrence counts (no DISTINCT) — frequency, not
    membership.

    Scale: one (lang, gram)-keyed hash aggregation with map-side
    combine (the heavy hitters collapse in-partition before the
    shuffle), then a per-lang top-5 via rank window — |langs| way
    parallel and rewritten by Spark to WindowGroupLimit, so each
    partition keeps only 5 rows. The gram explosion itself is a
    narrow transform."""
    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select("lang", F.split("text", " ").alias("w")).where(
        F.size("w") >= 3
    )
    # Spark [] is 0-based (DuckDB's is 1-based) — triples start at w[i-1]
    grams = toks.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 2), "
                "i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"
            )
        ).alias("gram"),
    )
    counts = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    win = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram"))
    return (
        counts.withColumn("rnk", F.row_number().over(win))
        .where(F.col("rnk") <= 5)
        .select("lang", "gram", "n", "rnk")
    )


#: ANN batch geometry: the first 8 vectors are the query batch.
_NQ, _BATCH_K = 8, 3


@query(
    "ann_batch_topk",
    oracle=f"""
        WITH v AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ),
        q AS (SELECT id AS qid, vec AS qvec FROM v WHERE id < {_NQ})
        SELECT qid, id, cos_sim FROM (
            SELECT q.qid, v.id,
                   ROUND(list_cosine_similarity(v.vec, q.qvec), 6)
                       AS cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY ROUND(list_cosine_similarity(
                                    v.vec, q.qvec), 6) DESC, v.id) AS rn
            FROM v CROSS JOIN q
            WHERE v.id >= {_NQ})
        WHERE rn <= {_BATCH_K}
    """,
)
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN: top-{_BATCH_K} neighbours for a BATCH of {_NQ}
    query vectors in ONE corpus scan — the retrieval shape of
    embedding-dedup backfills and RAG eval sweeps, where per-query
    scans (``ann_bruteforce_topk`` × N) would rescan the corpus N
    times.

    Scale: the query batch broadcasts (a BroadcastNestedLoopJoin over
    a {_NQ}-row build side — the batch IS the small side by
    construction); similarity computes in codegen; the per-query
    top-k is a rank window PARTITIONED BY query id, which Spark
    rewrites to WindowGroupLimit so each shuffle partition retains
    ≤ k rows per query. One scan, one k-bounded shuffle, any batch
    size up to executor-memory ÷ dim."""
    emb = load(spark, sf_dir, "embeddings")
    v = C._vectors(emb, "vec_id", "embedding")
    q = (
        v.where(F.col("id") < _NQ)
        .select(F.col("id").alias("qid"), F.col("vec").alias("qvec"))
    )
    sim = F.expr(f"round({cosine('vec', 'qvec')}, 6)")
    win = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("id")
    )
    return (
        v.where(F.col("id") >= _NQ)
        .crossJoin(F.broadcast(q))
        .select("qid", "id", sim.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= _BATCH_K)
        .select("qid", "id", "cos_sim")
    )


_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_RE_PHONE = r"\b555-\d{4}\b"


@query(
    "text_pii_redact",
    oracle=f"""
        WITH aug AS (
            SELECT doc_id,
                   text || CASE doc_id % 4
                       WHEN 1 THEN ' reach me at ' || source ||
                            CAST(doc_id AS VARCHAR) || '@example.com'
                       WHEN 2 THEN ' call 555-' ||
                            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       WHEN 3 THEN ' mail ' || source ||
                            '@corp.io from 10.0.' ||
                            CAST(doc_id % 256 AS VARCHAR) || '.' ||
                            CAST((doc_id * 7) % 256 AS VARCHAR)
                       ELSE '' END AS full_text
            FROM documents
        ),
        red AS (
            SELECT doc_id,
                   len(regexp_extract_all(full_text, '{_RE_EMAIL}'))
                       AS n_emails,
                   len(regexp_extract_all(full_text, '{_RE_IP}')) AS n_ips,
                   len(regexp_extract_all(full_text, '{_RE_PHONE}'))
                       AS n_phones,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(full_text,
                               '{_RE_EMAIL}', '<EMAIL>', 'g'),
                           '{_RE_IP}', '<IP>', 'g'),
                       '{_RE_PHONE}', '<PHONE>', 'g') AS redacted
            FROM aug
        )
        SELECT doc_id, n_emails, n_ips, n_phones,
               length(redacted) AS redacted_len,
               md5(redacted) AS redacted_fp
        FROM red
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: the standard scrub battery (email, IPv4, phone)
    every public-web training corpus runs before anything else. The
    synthetic corpus carries no organic PII, so contact strings are
    INJECTED deterministically from (doc_id, source) — docs get an
    email, a phone, an email+IP, or nothing by doc_id % 4 — then the
    battery must find and replace exactly those. Counts are taken
    before replacement; the redacted text is fingerprinted so the
    oracle verifies the literal output bytes, not just the counts.

    Scale: regexp_count + chained regexp_replace are all JVM
    codegen'd per-row string ops — zero shuffle, zero Python, scan
    parallelism. Order matters and is pinned (email → IP → phone) so
    a replacement can never create or destroy a later pattern's
    match; patterns are Java/RE2-portable (no lookarounds, no
    backrefs)."""
    docs = load(spark, sf_dir, "documents")
    contact = (
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(" reach me at "),
                F.col("source"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 3,
            F.concat(
                F.lit(" mail "),
                F.col("source"),
                F.lit("@corp.io from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                ((F.col("doc_id") * 7) % 256).cast("string"),
            ),
        )
        .otherwise(F.lit(""))
    )
    full = F.concat(F.col("text"), contact)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(full, _RE_EMAIL, "<EMAIL>"),
            _RE_IP,
            "<IP>",
        ),
        _RE_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(full, F.lit(_RE_EMAIL)).alias("n_emails"),
        F.regexp_count(full, F.lit(_RE_IP)).alias("n_ips"),
        F.regexp_count(full, F.lit(_RE_PHONE)).alias("n_phones"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_fp"),
    )


@query(
    "corpus_dsir_select",
    oracle="""
        WITH bi AS (
            SELECT doc_id, substr(text, i, 2) AS bg
            FROM (SELECT doc_id, text,
                         unnest(range(1, length(text))) AS i
                  FROM documents)
        ),
        raw AS (SELECT bg, COUNT(*) AS cr FROM bi GROUP BY bg),
        tgt AS (
            SELECT bg, COUNT(*) AS ct
            FROM bi JOIN documents USING (doc_id)
            WHERE source = 'src0'
            GROUP BY bg
        ),
        tot AS (
            SELECT (SELECT SUM(ct) FROM tgt) AS nt,
                   (SELECT SUM(cr) FROM raw) AS nr,
                   (SELECT COUNT(*) FROM raw) AS v
        ),
        model AS (
            SELECT raw.bg,
                   ROUND(log2((COALESCE(tgt.ct, 0) + 1.0) / (tot.nt + tot.v))
                         - log2((raw.cr + 1.0) / (tot.nr + tot.v)), 6) AS lr
            FROM raw LEFT JOIN tgt USING (bg) CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_features,
               ROUND(SUM(CAST(ROUND(model.lr * 1000000) AS BIGINT))
                     / 1000000.0, 4) AS log_weight
        FROM bi JOIN model USING (bg)
        GROUP BY doc_id
        ORDER BY log_weight DESC, doc_id
        LIMIT 100
    """,
)
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023): score every document by how much more likely its hashed
    n-gram features are under a TARGET distribution (here: the
    ``source='src0'`` slice, standing in for a high-quality seed like
    Wikipedia) than under the raw-corpus proposal, then keep the
    top-N. Features are char bigrams with add-1 smoothing over the
    corpus bigram vocabulary; the doc score is
    Σ_features [log p_target(f) − log p_raw(f)].

    Scale: ONE persisted bigram explode feeds the target counter, the
    proposal counter, and the scorer (the same shared-scan discipline
    as ``corpus_lm_score``); both models are |alphabet|²-row
    relations that BROADCAST to the scorer; totals are a 1-row
    cross-joined aggregate. Nothing shuffles except bigram counts and
    the per-doc sum — at 100 TB the selection is two corpus scans
    regardless of corpus size. Per-term log-ratios round at 6dp; the
    doc sum accumulates the 1e6-scaled ratios as exact BIGINTs on
    both engines (integer-moment float discipline)."""
    docs = load(spark, sf_dir, "documents")
    from spark_query_engine.operators.textanalysis import char_bigrams

    bi = char_bigrams(docs, "doc_id", "text").persist()  # shared by the proposal counter, target counter, scorer
    raw = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        bi.join(
            docs.where(F.col("source") == "src0").select("doc_id"), "doc_id"
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = (
        raw.agg(
            F.sum("cr").alias("nr"), F.count(F.lit(1)).alias("v")
        ).crossJoin(tgt.agg(F.sum("ct").alias("nt")))
    )
    lr = F.round(
        F.log2((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("nt") + F.col("v")))
        - F.log2((F.col("cr") + 1.0) / (F.col("nr") + F.col("v"))),
        6,
    )
    model = raw.join(tgt, "bg", "left").crossJoin(tot).select("bg", lr.alias("lr"))
    return (
        bi.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            # exact-integer-moment discipline: the 6dp-quantized
            # per-term log-ratios scale to 1e6 BIGINTs and SUM
            # exactly — this sum ORDERS the top-100 selection, so a
            # partition-order float flip would change set membership,
            # not just a digit
            F.round(
                F.sum(F.round(F.col("lr") * 1000000, 0).cast("bigint"))
                / 1000000.0,
                4,
            ).alias("log_weight"),
        )
        .orderBy(F.col("log_weight").desc(), F.col("doc_id"))
        .limit(100)
    )


#: Winnowing geometry: char 5-grams, window of 4 consecutive hashes.
_WK, _WW = 5, 4


@query(
    "corpus_winnow_fingerprint",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, i AS pos, md5(substr(text, i, {_WK})) AS h,
                   length(text) - {_WK - 1} AS nk
            FROM (SELECT doc_id, text,
                         unnest(range(1, length(text) - {_WK - 2})) AS i
                  FROM documents
                  WHERE length(text) >= {_WK})
        ),
        w AS (
            SELECT doc_id, pos, h,
                   unnest(range(greatest(1, pos - {_WW - 1}),
                                least(pos, nk - {_WW - 1}) + 1)) AS win
            FROM g
            WHERE nk >= {_WW}
        ),
        sel AS (
            SELECT DISTINCT doc_id, pos FROM (
                SELECT doc_id, win, pos,
                       ROW_NUMBER() OVER (PARTITION BY doc_id, win
                                          ORDER BY h, pos DESC) AS rn
                FROM w) WHERE rn = 1
        ),
        cnt AS (SELECT doc_id, COUNT(*) AS n_fp FROM sel GROUP BY 1)
        SELECT d.doc_id,
               GREATEST(length(d.text) - {_WK - 1}, 0) AS n_kgrams,
               COALESCE(c.n_fp, 0) AS n_fingerprints,
               ROUND(CASE WHEN length(d.text) >= {_WK}
                          THEN CAST(COALESCE(c.n_fp, 0) AS DOUBLE)
                               / (length(d.text) - {_WK - 1})
                          ELSE 0.0 END, 4) AS density
        FROM documents d LEFT JOIN cnt c USING (doc_id)
    """,
)
def corpus_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003) — the
    robust local fingerprinting behind MOSS: hash every char
    {_WK}-gram, slide a window of {_WW} consecutive hashes, and select
    each window's minimum (ties → rightmost). The selected-position
    SET is what matters: any shared substring of length ≥
    {_WK + _WW - 1} between two documents is GUARANTEED to share a
    fingerprint, with expected density 2/(w+1) — a guarantee mod-p
    sampling (``text_fingerprint``) cannot give.

    Implementation: a position p is selected iff it is the
    rightmost-minimum of SOME window, so each hash row expands to the
    ≤ {_WW} window ids containing it (explode of a clamped sequence,
    a bounded narrow fan-out, never a self-join), and a rank-1 window
    per (doc, win) picks the winner — Spark rewrites it to
    WindowGroupLimit, keeping one row per window before the distinct.

    Scale: zero shuffle — the selection happens inside the scan (the
    ``winnow_fingerprints`` Arrow-batched mapInPandas, property-tested
    against the sequential algorithm); only the selected positions
    (density 2/(w+1)) leave it, into one per-doc count. Output
    verifies the per-doc fingerprint count and density against the
    oracle's identical construction."""
    from spark_query_engine.operators import textanalysis as T

    docs = load(spark, sf_dir, "documents")
    sel = T.winnow_fingerprints(docs, "doc_id", "text", k=_WK, w=_WW)
    cnt = (
        sel.groupBy(F.col("id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_fp"))
    )
    n_kgrams = F.greatest(F.length("text") - (_WK - 1), F.lit(0))
    density = F.round(
        F.when(
            F.length("text") >= _WK,
            F.coalesce(F.col("n_fp"), F.lit(0)).cast("double")
            / (F.length("text") - (_WK - 1)),
        ).otherwise(F.lit(0.0)),
        4,
    )
    return (
        docs.join(cnt, "doc_id", "left")
        .select(
            "doc_id",
            n_kgrams.alias("n_kgrams"),
            F.coalesce(F.col("n_fp"), F.lit(0)).alias("n_fingerprints"),
            density.alias("density"),
        )
    )


def _ivf_pq_oracle() -> str:
    """Composed-oracle builder: the k-means CTE chain from
    ``queries/semantic.py`` (coarse quantizer, yields ``v``, ``c2``,
    ``a_final``) + the PQ encode/ADC CTEs from ``corpus_pq_topk``,
    with the candidate set restricted to the query's 2 nearest
    inverted lists."""
    from spark_query_engine.queries.semantic import (
        _ITERS,
        _IVF_NLIST_EXPR,
        _kmeans_ctes,
        _pq_adc_ctes,
    )

    return f"""
        {_kmeans_ctes(_IVF_NLIST_EXPR, _ITERS)},
        qv AS (SELECT vec AS qvec FROM v WHERE id = 0),
        qc AS (
            SELECT c.centroid
            FROM c{_ITERS} c, qv
            ORDER BY ROUND(list_cosine_similarity(c.cvec, qv.qvec), 6)
                     DESC, c.centroid
            LIMIT 2
        ),
        cand AS (
            SELECT f.id, f.vec FROM a_final f JOIN qc USING (centroid)
            WHERE f.id <> 0
        ),
        {_pq_adc_ctes("cand", "qvec", "qv, js")}
        SELECT enc.id, ROUND(SUM(lut.qd2), 6) AS adc_dist
        FROM enc JOIN lut ON enc.j = lut.j AND enc.code = lut.code
        GROUP BY enc.id
        ORDER BY adc_dist, id
        LIMIT 10
    """


@query("ann_ivf_pq_topk", oracle=_ivf_pq_oracle())
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composed index every billion-vector ANN system
    (FAISS IVFPQ, SCaNN) actually ships: a LEARNED coarse quantizer
    (k-means, ``corpus_kmeans``'s trainer) partitions the corpus into
    inverted lists; the probe visits only the query's nprobe=2
    nearest lists; within them, ranking is PQ asymmetric distance
    (``corpus_pq_topk``'s ADC) over 4-byte codes instead of 256-byte
    floats.

    Scale: probe cost = nprobe bounded lists (the list count is
    footer-sized via ``_ivf_nlist`` — ⌈n/64⌉ capped at the FAISS 4√n
    serving rule, r8; the old fixed k=8 made every probe read n/8).
    The inverted lists ARE a partitioning (`partitionBy(centroid)` on
    write), so list probes become partition pruning at the parquet
    scan; model state on the driver is nlist·dim centroids +
    m·k·subdim codebooks — kilobytes. The nearest-list selection is
    an nlist-row lazy branch of the probe plan (broadcast semi-join)
    with the same rounded-cosine discipline as the oracle (never
    NumPy, whose SIMD summation order could flip a 6dp boundary)."""
    from spark_query_engine.queries.semantic import (
        _ITERS,
        _PQ_K,
        _PQ_SUBDIM,
        _ivf_nlist,
    )

    emb = load(spark, sf_dir, "embeddings")
    v = C._vectors(emb, "vec_id", "embedding")
    n = footer_rows(spark, sf_dir, "embeddings")
    nlist = _ivf_nlist(n)

    # ONE model-state head fetch serves the PQ codebook seeds, the
    # query vector, AND the k-means init (id < max(nlist, _PQ_K)
    # covers both) — this was two collect jobs (r8 fit-constant shave)
    head = v.where(F.col("id") < max(nlist, _PQ_K)).collect()
    rows = {
        int(r["id"]): list(r["vec"]) for r in head if int(r["id"]) < _PQ_K
    }
    cents = C.kmeans_fit(
        spark, v, k=nlist, iters=_ITERS, seeds=head, n_hint=n
    )
    assigned = C.assign_to_centroids(v, cents, n_hint=n)
    codebooks = [
        [rows[code][j * _PQ_SUBDIM:(j + 1) * _PQ_SUBDIM]
         for code in sorted(rows)]
        for j in range(len(rows[0]) // _PQ_SUBDIM)
    ]
    qvec = rows[0]
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "centroid int, cvec array<double>",
    )
    # nprobe=2 nearest-list selection stays a LAZY k-row branch of the
    # plan (broadcast semi-join) instead of a collect — same rounded-
    # cosine discipline as the oracle (never NumPy, whose SIMD
    # summation order could flip a 6dp boundary), one less driver-
    # synchronized job (r8 fit-constant shave)
    probes = (
        cdf.select(
            "centroid",
            F.expr(f"round({cosine('cvec', nested_sql(qvec))}, 6)").alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("centroid"))
        .limit(2)
        .select("centroid")
    )
    cand = assigned.join(F.broadcast(probes), "centroid", "semi").where(
        F.col("id") != 0
    ).select("id", "vec")
    encoded = S.pq_encode(cand, codebooks, _PQ_SUBDIM)
    return S.pq_adc_topk(encoded, codebooks, qvec, _PQ_SUBDIM, k=10)


#: Bloom-prefilter geometry: bucket count for the hashed-key filter.
_BLOOM_M = 8192


@query(
    "join_bloom_prefilter",
    oracle="""
        SELECT c.c_custkey, c.c_name,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o.o_totalprice), 2) AS total_rev
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 9000
        GROUP BY 1, 2
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: before shuffling the fact table into a
    selective join, semi-join it against the BROADCAST set of hashed
    key buckets from the (filtered) build side — a hand-rolled Bloom
    filter (one hash function, {_BLOOM_M} buckets) with the exact
    join after it guaranteeing zero false positives in the result.
    This is the pattern Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` injects
    automatically; spelled out here so the plan is pinned and
    portable.

    Scale: the build side (a selective dimension slice) may be too
    big to broadcast as ROWS, but its bucket set is at most
    {_BLOOM_M} ints no matter how many rows hash into it — the
    broadcast is O(m), not O(|build|). The fact scan drops
    non-matching rows map-side BEFORE the shuffle, so shuffle volume
    tracks the join selectivity (~0.6% of customers here) instead of
    the fact cardinality. The oracle is the plain exact join — the
    bloom stage must be semantically invisible."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    build = cust.where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000)
    ).select("c_custkey", "c_name")
    buckets = build.select(
        F.pmod(F.xxhash64("c_custkey"), F.lit(_BLOOM_M)).alias("bkt")
    ).distinct()
    probe = orders.join(
        F.broadcast(buckets),
        F.pmod(F.xxhash64("o_custkey"), F.lit(_BLOOM_M)) == F.col("bkt"),
        "leftsemi",
    )
    return (
        probe.join(build, probe.o_custkey == build.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_rev"),
        )
    )


def _bpe_round_ctes(r: int, prev: str) -> str:
    """One BPE round as DuckDB CTEs: pair counts → winning merge →
    recursive left-to-right fold applying it (the merge rule rides as
    fold state so it evaluates once, not per recursion step)."""
    return f"""
        p{r} AS (
            SELECT t.a, t.b, SUM(f) AS c FROM (
                SELECT f, unnest(list_transform(range(1, len(t)), i ->
                    struct_pack(a := t[i], b := t[i+1]))) AS t
                FROM {prev} WHERE len(t) >= 2)
            GROUP BY 1, 2
        ),
        best{r} AS (SELECT a, b, a || b AS m, c FROM p{r}
                    ORDER BY c DESC, a, b LIMIT 1),
        fold{r}(w, f, i, acc, a, b, m) AS (
            SELECT c.w, c.f, 1, [c.t[1]], bb.a, bb.b, bb.m
            FROM {prev} c CROSS JOIN best{r} bb
            UNION ALL
            SELECT c.w, c.f, fd.i + 1,
                   CASE WHEN fd.acc[-1] = fd.a AND c.t[fd.i+1] = fd.b
                        THEN list_slice(fd.acc, 1, len(fd.acc)-1) || [fd.m]
                        ELSE fd.acc || [c.t[fd.i+1]] END,
                   fd.a, fd.b, fd.m
            FROM fold{r} fd JOIN {prev} c USING (w, f)
            WHERE fd.i < len(c.t)
        ),
        tok{r} AS (SELECT fd.w, fd.f, fd.acc AS t
                   FROM fold{r} fd JOIN {prev} c USING (w, f)
                   WHERE fd.i = len(c.t))
    """


_BPE_ROUNDS = 3

_BPE_ORACLE = (
    """
    WITH RECURSIVE words AS (
        SELECT w, COUNT(*) AS f FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) > 0 GROUP BY w
    ),
    tok0 AS (SELECT w, f,
                    list_transform(range(1, length(w)+1), i -> w[i]) AS t
             FROM words),
    """
    + ",\n".join(_bpe_round_ctes(r, f"tok{r-1}") for r in range(1, _BPE_ROUNDS + 1))
    + f"""
    SELECT w AS word, f AS freq, len(t) AS n_tokens,
           array_to_string(t, '|') AS seg
    FROM tok{_BPE_ROUNDS}
    """
)


@query("corpus_bpe_train", oracle=_BPE_ORACLE)
def corpus_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016) — the
    step that turns a curated corpus into a tokenizer: {_BPE_ROUNDS}
    merge rounds over the word-frequency table, then every word's
    final segmentation. The oracle replays ALL rounds — pair counting,
    the (count desc, pair asc) winner, and the exact left-to-right
    non-overlapping merge fold — as recursive CTEs, so the iterative
    trainer is hash-verified end to end, not just row-counted.

    Scale: see ``operators/textanalysis.bpe_train`` — work is keyed on
    the word-TYPE relation (|vocab|, not corpus size), pair counting
    is a map-side-combined hash agg, the winning pair is the only
    driver state (1 row/round — vocab-scale jobs at any corpus size;
    the r9 job-merge experiment measured the zero-collect cascade
    SLOWER, see the operator docstring), and merge application is a
    codegen'd ``aggregate`` fold with zero shuffle."""
    from spark_query_engine.operators.textanalysis import bpe_train

    docs = load(spark, sf_dir, "documents")
    toks, _merges = bpe_train(docs, "text", rounds=_BPE_ROUNDS)
    return carry_caches(
        toks.select(
            F.col("w").alias("word"),
            F.col("f").alias("freq"),
            F.size("t").alias("n_tokens"),
            F.array_join("t", "|").alias("seg"),
        ),
        toks,
    )


@query(
    "corpus_eval_split",
    oracle="""
        WITH fp AS (
            SELECT doc_id, source,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS norm_fp
            FROM documents
        ),
        assigned AS (
            SELECT doc_id, source,
                   CASE ('0x' || substr(md5(norm_fp), 1, 8))::BIGINT % 100
                        WHEN 0 THEN 'test'
                        WHEN 1 THEN 'val'
                        ELSE 'train' END AS split
            FROM fp
        )
        SELECT source, split, COUNT(*) AS n_docs,
               COUNT(DISTINCT doc_id) AS n_distinct
        FROM assigned
        GROUP BY 1, 2
    """,
)
def corpus_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test assignment: the split key is the
    NORMALIZED-TEXT fingerprint, not the doc id — exact and
    near-layout duplicates land in the SAME split by construction, so
    an eval example can never have a twin in train (the dedup-leakage
    failure mode behind inflated benchmark numbers). Assignment is a
    deterministic md5 bucket (98/1/1), reproducible across engines,
    runs and partitionings; output is the per-(source, split) census
    used to audit the mix.

    Scale: two codegen'd hash expressions and one grouped count —
    zero joins, one map-side-combined shuffle on (source, split). The
    same ``split`` expression tags the full corpus on write
    (``partitionBy(split)``); extending the key from exact-normalized
    to MinHash-cluster id (``dedup_cluster_components``) upgrades the
    guarantee to near-dup-free at one extra join."""
    docs = load(spark, sf_dir, "documents")
    norm_fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    )
    bucket = F.conv(F.substring(F.md5(norm_fp), 1, 8), 16, 10).cast("long") % 100
    split = (
        F.when(bucket == 0, "test").when(bucket == 1, "val").otherwise("train")
    )
    return (
        docs.select("doc_id", "source", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("doc_id").alias("n_distinct"),
        )
    )


#: Duplicated-span removal geometry: sliding 8-token windows.
_SPAN_K = 8

#: The ExactSubstr CTE chain (t → wins → dupg → cov → tokpos → kept →
#: cleaned), shared by corpus_dup_span_removal and the
#: pipeline_pretraining_full capstone oracle.
_DUP_SPAN_CTES = f"""
        t AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ),
        wins AS (
            SELECT doc_id, i AS s,
                   array_to_string(
                       list_slice(tk, i + 1, i + {_SPAN_K}), ' ') AS g
            FROM (SELECT doc_id, tk,
                         unnest(range(0, len(tk) - {_SPAN_K - 1})) AS i
                  FROM t WHERE len(tk) >= {_SPAN_K})
        ),
        dupg AS (
            SELECT g FROM wins GROUP BY g
            HAVING COUNT(DISTINCT doc_id) > 1
        ),
        cov AS (
            SELECT DISTINCT doc_id, s + u AS pos
            FROM wins JOIN dupg USING (g),
                 UNNEST(range(0, {_SPAN_K})) AS r(u)
        ),
        tokpos AS (
            SELECT doc_id, i - 1 AS pos, tk[i] AS tok
            FROM t, UNNEST(range(1, len(tk) + 1)) AS r(i)
        ),
        kept AS (
            SELECT doc_id, pos, tok FROM tokpos
            ANTI JOIN cov USING (doc_id, pos)
        ),
        cleaned AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   array_to_string(list(tok ORDER BY pos), ' ') AS ctext
            FROM kept GROUP BY doc_id
        )
"""


@query(
    "corpus_dup_span_removal",
    oracle=f"""
        WITH {_DUP_SPAN_CTES.strip()}
        SELECT d.doc_id,
               len(string_split(d.text, ' ')) AS n_tokens,
               len(string_split(d.text, ' ')) - COALESCE(c.n_kept, 0)
                   AS n_removed,
               md5(COALESCE(c.ctext, '')) AS cleaned_fp
        FROM documents d LEFT JOIN cleaned c USING (doc_id)
    """,
)
def corpus_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span REMOVAL (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better' — the ExactSubstr
    dedup): slide a {_SPAN_K}-token window over every document, mark
    windows whose text occurs in MORE THAN ONE document, erase every
    token covered by a marked window, and emit the cleaned document —
    not just a flag. Whole-doc and fixed-block screens
    (``corpus_span_dedup``) can't produce this output: here the
    boilerplate is cut while the unique remainder survives.

    Scale: five keyed, map-side-combinable shuffles — the sliding
    8-gram relation (narrow explode), a (gram)-keyed distinct-doc
    count, a semi join back (the gram key md5-compresses to 8 bytes
    at 100 TB), a (doc, pos)-keyed anti join to drop covered tokens,
    and one per-doc reassembly aggregation whose
    ``array_sort(collect_list(struct(pos, tok)))`` rebuilds token
    order without a sort-merge (per-doc lists are document-sized,
    bounded by the longest doc — the same bound every per-doc op in
    the repo carries). Nothing is ever all-pairs; the duplicated-gram
    relation is the only state and it broadcasts if small."""
    from spark_query_engine.operators.dedup import dup_span_removal

    docs = load(spark, sf_dir, "documents")
    out = dup_span_removal(widen(docs), "doc_id", "text", k=_SPAN_K)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        "n_removed",
        F.md5("cleaned_text").alias("cleaned_fp"),
    )


def _lsh_eval_oracle_ctes() -> str:
    """DuckDB twin of ``_lsh_probe_eval``: a WITH clause defining
    ``q``, ``corpus`` and the exact top-K ``truth``. It ends in a comma;
    the caller appends its own CTEs and final SELECT."""
    from spark_query_engine.queries.similarity import (
        _NPLANES_EXPR,
        _planes_values_sql,
    )

    return f"""WITH planes(p, d, w) AS (VALUES {_planes_values_sql()}),
        v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
        dots AS (SELECT e.id, pl.p, SUM(pl.w * e.vec[pl.d + 1]) AS dot
                 FROM v e, planes pl
                 WHERE pl.p < {_NPLANES_EXPR}
                 GROUP BY 1, 2),
        buckets AS (SELECT id,
                           SUM(CASE WHEN dot > 0 THEN (1::BIGINT << p)
                               ELSE 0 END) AS bucket
                    FROM dots GROUP BY id),
        q AS (SELECT v.id AS qid, v.vec AS qvec, b.bucket AS qbucket
              FROM v JOIN buckets b USING (id) WHERE v.id < {_NQ}),
        corpus AS (SELECT v.id, v.vec, b.bucket
                   FROM v JOIN buckets b USING (id) WHERE v.id >= {_NQ}),
        truth AS (SELECT qid, id FROM (
            SELECT q.qid, c.id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY ROUND(list_cosine_similarity(
                                    c.vec, q.qvec), 6) DESC, c.id) AS rn
            FROM corpus c CROSS JOIN q) WHERE rn <= {_BATCH_K}),
"""


def _lsh_probe_eval(spark: SparkSession, sf_dir: str):
    """The single-bucket LSH probe the ANN audits grade, and the
    truth it is graded against: (qbatch, cand, approx, truth).
    ``qbatch`` holds the first ``_NQ`` vectors as queries (qid, qvec,
    qbucket); ``cand`` pairs each with every corpus vector in its
    bucket; ``approx`` is the probe's top-``_BATCH_K`` per query (qid,
    id, rn); ``truth`` the exact brute-force top-``_BATCH_K`` (qid,
    id)."""
    from spark_query_engine.queries.similarity import _PLANES, _n_planes

    emb = load(spark, sf_dir, "embeddings")
    planes = _PLANES[: _n_planes(footer_rows(spark, sf_dir, "embeddings"))]
    bucketed = S.lsh_bucket(emb, "vec_id", "embedding", planes)
    qbatch = bucketed.where(F.col("id") < _NQ).select(
        F.col("id").alias("qid"),
        F.col("vec").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    corpus = bucketed.where(F.col("id") >= _NQ)
    sim = F.expr(f"round({cosine('vec', 'qvec')}, 6)")
    win = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("id")
    )
    truth = (
        corpus.crossJoin(F.broadcast(qbatch.select("qid", "qvec")))
        .select("qid", "id", sim.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= _BATCH_K)
        .select("qid", "id")
    )
    cand = corpus.join(
        F.broadcast(qbatch), F.col("bucket") == F.col("qbucket")
    )
    approx = (
        cand.select("qid", "id", sim.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= _BATCH_K)
        .select("qid", "id", "rn")
    )
    return qbatch, cand, approx, truth


def _recall_oracle() -> str:
    return f"""
        {_lsh_eval_oracle_ctes()}
        cand AS (SELECT q.qid, c.id, c.vec, q.qvec
                 FROM corpus c JOIN q ON c.bucket = q.qbucket),
        ncand AS (SELECT qid, COUNT(*) AS n_candidates FROM cand GROUP BY 1),
        approx AS (SELECT qid, id FROM (
            SELECT qid, id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY ROUND(list_cosine_similarity(
                                    vec, qvec), 6) DESC, id) AS rn
            FROM cand) WHERE rn <= {_BATCH_K}),
        hits AS (SELECT a.qid, COUNT(*) AS n_hits
                 FROM approx a JOIN truth t USING (qid, id) GROUP BY 1)
        SELECT q.qid, COALESCE(n.n_candidates, 0) AS n_candidates,
               COALESCE(h.n_hits, 0) AS n_hits,
               ROUND(COALESCE(h.n_hits, 0) / {_BATCH_K}.0, 6) AS recall_at_k
        FROM q LEFT JOIN ncand n USING (qid) LEFT JOIN hits h USING (qid)
    """


@query("ann_recall_eval", oracle=_recall_oracle())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality audit: for each query in the {_NQ}-vector
    batch, compare the LSH bucket probe's top-{_BATCH_K} against the
    exact brute-force top-{_BATCH_K} and report candidate-set size,
    hits, and recall@{_BATCH_K} — the measurement that decides
    plane-count/band tuning before an index ships (the embedding
    analogue of ``corpus_dedup_eval``).

    Scale: the ground-truth pass is one corpus scan against the
    broadcast query batch (run at eval time on a SAMPLE, not the full
    corpus); the probe pass touches only matching buckets via a
    broadcast equi-join on bucket id; both top-ks are per-query rank
    windows (WindowGroupLimit). Recall is exact-arithmetic
    (n_hits/{_BATCH_K}).

    Measured finding (sf0.01): single-bucket probe at 8 planes/256
    buckets recalls ~4% of the true top-3 — exactly the number that
    justifies ``ann_lsh_multiprobe_topk``'s Hamming-ball probes or
    fewer planes; the audit exists to surface that before an index
    ships, and the driver hash-verifies the measurement itself."""
    qbatch, cand, approx, truth = _lsh_probe_eval(spark, sf_dir)
    ncand = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_candidates"))
    approx = approx.select("qid", "id")
    hits = approx.join(truth, ["qid", "id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        qbatch.select("qid")
        .join(ncand, "qid", "left")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / float(_BATCH_K), 6
            ).alias("recall_at_k"),
        )
    )


#: Bits per coordinate of the Z-order key; callers quantize to 65536.
_ZORDER_BITS = 16


def _zorder_sql(xcol: str, ycol: str) -> str:
    """DuckDB bit-interleave: z = Σ_i ((x>>i & 1) << 2i) | ((y>>i & 1)
    << (2i+1)) unrolled to a literal sum (constant-folds at plan
    time, same as the Spark expression)."""
    terms = []
    for i in range(_ZORDER_BITS):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _zorder_col(xcol, ycol):
    z = F.lit(0).cast("long")
    for i in range(_ZORDER_BITS):
        z = z + F.shiftleft(F.shiftright(xcol, i) % 2, 2 * i)
        z = z + F.shiftleft(F.shiftright(ycol, i) % 2, 2 * i + 1)
    return z


@query(
    "data_zorder_layout",
    oracle=f"""
        WITH q AS (
            SELECT o_orderkey,
                   CAST(o_custkey % 65536 AS BIGINT) AS xq,
                   CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
                        % 65536 AS BIGINT) AS yq
            FROM orders
        ),
        z AS (
            SELECT o_orderkey, xq, yq,
                   {_zorder_sql('xq', 'yq')} AS zval
            FROM q
        ),
        b AS (SELECT *, zval // 4194304 AS zbucket FROM z)
        SELECT zbucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(xq) AS x_min, MAX(xq) AS x_max,
               MIN(yq) AS y_min, MAX(yq) AS y_max,
               MIN(zval) AS z_min, MAX(zval) AS z_max
        FROM b GROUP BY 1
    """,
)
def data_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) data layout: interleave the bits of two
    16-bit-quantized dimensions (customer, order-day) into one sort
    key, bucket by z-range, and report per-bucket row counts and
    per-dimension min/max envelopes — the data-skipping statistics a
    lakehouse writes per file. Because z-order preserves locality in
    BOTH dimensions, every bucket's (x, y) envelope is tight, so a
    predicate on EITHER column prunes buckets/files — the property a
    single-column sort gives only its leading column. This is the
    layout step behind OPTIMIZE ZORDER BY in lakehouse table formats;
    writing the table ordered by ``zval`` (repartitionByRange + local
    sort) turns the envelopes into real parquet row-group pruning.

    Scale: the z-value is 32 shift-and-add terms in whole-stage
    codegen (zero Python, zero shuffle); the bucket census is one
    map-side-combined aggregation keyed on z-bucket — uniform by
    construction since z-space is balanced."""
    o = load(spark, sf_dir, "orders")
    xq = (F.col("o_custkey") % 65536).cast("long")
    yq = (
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 65536
    ).cast("long")
    q = o.select(
        "o_orderkey", xq.alias("xq"), yq.alias("yq")
    )
    z = q.select(
        "o_orderkey",
        "xq",
        "yq",
        _zorder_col(F.col("xq"), F.col("yq")).alias("zval"),
    )
    b = z.withColumn(
        "zbucket", F.floor(F.col("zval") / 4194304).cast("long")
    )
    return b.groupBy("zbucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("xq").alias("x_min"),
        F.max("xq").alias("x_max"),
        F.min("yq").alias("y_min"),
        F.max("yq").alias("y_max"),
        F.min("zval").alias("z_min"),
        F.max("zval").alias("z_max"),
    )


#: Count-min sketch geometry: 4 hash rows × 256 buckets.
_CMS_D, _CMS_W = 4, 256


@query(
    "corpus_sketch_cms",
    oracle=f"""
        WITH words AS (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        ),
        ds AS (SELECT unnest(range(0, {_CMS_D})) AS d),
        cells AS (
            SELECT d,
                   ('0x' || substr(md5(d::VARCHAR || ':' || word), 1, 8))
                       ::BIGINT % {_CMS_W} AS bucket,
                   COUNT(*) AS c
            FROM words CROSS JOIN ds
            GROUP BY 1, 2
        ),
        exact AS (
            SELECT word, COUNT(*) AS exact_n FROM words GROUP BY 1
        ),
        top AS (
            SELECT word, exact_n FROM exact
            ORDER BY exact_n DESC, word LIMIT 10
        ),
        probes AS (
            SELECT t.word, t.exact_n, d.d,
                   ('0x' || substr(md5(d.d::VARCHAR || ':' || t.word), 1, 8))
                       ::BIGINT % {_CMS_W} AS bucket
            FROM top t CROSS JOIN ds d
        )
        SELECT p.word, p.exact_n,
               MIN(c.c) AS est_n,
               MIN(c.c) - p.exact_n AS overestimate,
               MIN(c.c) >= p.exact_n AS bound_holds
        FROM probes p JOIN cells c ON c.d = p.d AND c.bucket = p.bucket
        GROUP BY 1, 2
    """,
)
def corpus_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    estimation — the third mergeable sketch next to HLL
    (``corpus_sketch_merge``) and GK quantiles
    (``corpus_sketch_quantiles``): hash every token into
    {_CMS_D} rows × {_CMS_W} buckets of counters, estimate a token's
    frequency as the MIN over its {_CMS_D} cells, and audit the CMS
    contract — estimates NEVER undercount (``bound_holds`` must be
    true for every probe; the driver hash-verifies the audit).

    Scale: the sketch build is one (d, bucket)-keyed aggregation with
    map-side combine — the sketch is {_CMS_D}·{_CMS_W} cells TOTAL
    regardless of corpus size, and per-shard sketches merge by cell
    addition (same partial-aggregate mergeability as the HLL path).
    Probing broadcasts the {_CMS_D}·{_CMS_W}-cell relation. The exact
    side exists only to audit the bound; production reads the sketch
    alone."""
    docs = load(spark, sf_dir, "documents")
    words = widen(docs).select(
        F.explode(F.split("text", " ")).alias("word")
    )
    ds = spark.range(_CMS_D).select(F.col("id").cast("int").alias("d"))

    def bucket(dcol, wcol):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(dcol.cast("string"), F.lit(":"), wcol)),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CMS_W
        )

    cells = (
        words.crossJoin(F.broadcast(ds))
        .groupBy("d", bucket(F.col("d"), F.col("word")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), "word").limit(10)
    probes = top.crossJoin(F.broadcast(ds)).select(
        "word",
        "exact_n",
        "d",
        bucket(F.col("d"), F.col("word")).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("word", "exact_n")
        .agg(F.min("c").alias("est_n"))
        .select(
            "word",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overestimate"),
            (F.col("est_n") >= F.col("exact_n")).alias("bound_holds"),
        )
    )


_DUP_SPAN_CTES_STRIPPED = _DUP_SPAN_CTES.strip()


@query(
    "pipeline_pretraining_full",
    oracle=f"""
        WITH {_DUP_SPAN_CTES_STRIPPED},
        gated AS (
            SELECT d.doc_id,
                   COALESCE(c.ctext, '') AS ctext,
                   len(string_split(d.text, ' ')) AS nt,
                   COALESCE(c.n_kept, 0) AS nk,
                   md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')))
                       AS nfp
            FROM documents d LEFT JOIN cleaned c USING (doc_id)
        ),
        keepers AS (
            SELECT doc_id, ctext,
                   CASE ('0x' || substr(md5(nfp), 1, 8))::BIGINT % 100
                        WHEN 0 THEN 'test'
                        WHEN 1 THEN 'val'
                        ELSE 'train' END AS split
            FROM gated
            WHERE (nt - nk) * 10 <= nt * 3 AND nk >= {_CHUNK // 2}
        ),
        ck AS (
            SELECT doc_id, split, string_split(ctext, ' ') AS tk
            FROM keepers
        ),
        chunks AS (
            SELECT doc_id, split, tk,
                   unnest(range(0, len(tk), {_STRIDE})) AS st
            FROM ck
        )
        SELECT doc_id, split,
               st // {_STRIDE} AS chunk_idx,
               len(list_slice(tk, st + 1, st + {_CHUNK})) AS n_tokens,
               md5(array_to_string(
                   list_slice(tk, st + 1, st + {_CHUNK}), ' ')) AS chunk_fp
        FROM chunks
    """,
)
def pipeline_pretraining_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 capstone: documents → training examples in ONE
    Catalyst plan. Stages: (1) ExactSubstr duplicated-span removal
    (``corpus_dup_span_removal``) produces cleaned text; (2) a gate
    keeps documents that lost ≤30% of their tokens and retained ≥
    {_CHUNK // 2}; (3) the survivors chunk into {_CHUNK}-token
    windows at stride {_STRIDE}; (4) every chunk carries its
    leakage-free split label (keyed on the ORIGINAL normalized text,
    so near-layout duplicates — even ones the span cut diverged on —
    still share a split). Output: (doc_id, split, chunk_idx,
    n_tokens, chunk_fp) — the relation a pretraining loader reads.

    Scale: the union of its stages' ledgers — the span stages' five
    keyed shuffles, then gate/split/chunk all narrow; composing them
    in one plan lets Catalyst pipeline the gate into the span
    reassembly and the chunker into the same stage as the split
    expression, with nothing materialized in between (the same
    single-plan-funnel discipline as ``corpus_curate_full``)."""
    from spark_query_engine.operators.dedup import dup_span_removal
    from spark_query_engine.operators.textanalysis import chunk_sliding

    docs = widen(load(spark, sf_dir, "documents"))
    spans = dup_span_removal(docs, "doc_id", "text", k=_SPAN_K)
    norm_fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    )
    bucket = (
        F.conv(F.substring(F.md5(norm_fp), 1, 8), 16, 10).cast("long") % 100
    )
    split = (
        F.when(bucket == 0, "test").when(bucket == 1, "val").otherwise("train")
    )
    gated = (
        docs.select("doc_id", split.alias("split"))
        .join(spans.withColumnRenamed("id", "doc_id"), "doc_id")
        .where(
            (F.col("n_removed") * 10 <= F.col("n_tokens") * 3)
            & (F.col("n_tokens") - F.col("n_removed") >= _CHUNK // 2)
        )
        .select("doc_id", "split", "cleaned_text")
    )
    # split rides through the chunker as a passthrough column: joining
    # chunks back to `gated` would make Spark execute the entire span-
    # removal subtree TWICE (once per join side — measured 18-Exchange
    # plan); the passthrough keeps it one linear 8-Exchange pipeline
    chunks = chunk_sliding(
        gated,
        "doc_id",
        "cleaned_text",
        size=_CHUNK,
        stride=_STRIDE,
        passthrough=["split"],
    ).withColumnRenamed("id", "doc_id")
    return chunks.select(
        "doc_id", "split", "chunk_idx", "n_tokens", "chunk_fp"
    )


def _ivf_occupancy_oracle() -> str:
    from spark_query_engine.queries.semantic import (
        _ITERS,
        _IVF_NLIST_EXPR,
        _kmeans_ctes,
    )

    return f"""
        {_kmeans_ctes(_IVF_NLIST_EXPR, _ITERS)},
        occ AS (
            SELECT centroid, COUNT(*) AS n_vectors
            FROM a_final GROUP BY 1
        ),
        tot AS (SELECT SUM(n_vectors) AS n, COUNT(*) AS k FROM occ)
        SELECT o.centroid, o.n_vectors,
               ROUND(o.n_vectors * 1.0 / tot.n, 6) AS share,
               ROUND(o.n_vectors * 1.0 * tot.k / tot.n, 6) AS balance
        FROM occ o CROSS JOIN tot
    """


@query("corpus_ivf_occupancy", oracle=_ivf_occupancy_oracle())
def corpus_ivf_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health audit: per-inverted-list occupancy from the
    LEARNED coarse quantizer — vector count, corpus share, and a
    balance factor (occupancy relative to perfectly uniform lists).
    Probe latency at scale is governed by the FATTEST list a query
    touches, so a balance factor ≫ 1 on any list is the signal to
    re-train with more centroids or split hot lists — the ANN
    analogue of ``data_skew_report``'s pre-join diagnosis.

    Scale: the audit itself is one (centroid)-keyed count over the
    assignment relation (map-side combine; nlist output rows) crossed
    with a 1-row total — negligible next to the assignment scan it
    reuses. The list count is footer-sized (``_ivf_nlist``, r8 — the
    serving-side rationale is in ``corpus_ivf_learned``)."""
    from spark_query_engine.queries.semantic import _ITERS, _ivf_nlist

    emb = load(spark, sf_dir, "embeddings")
    n = footer_rows(spark, sf_dir, "embeddings")
    assigned = C.kmeans_assign(
        spark, emb, "vec_id", "embedding", k=_ivf_nlist(n), iters=_ITERS,
        n_hint=n,
    )
    occ = assigned.groupBy("centroid").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    tot = occ.agg(
        F.sum("n_vectors").alias("n"), F.count(F.lit(1)).alias("k")
    )
    return carry_caches(
        occ.crossJoin(F.broadcast(tot)).select(
            "centroid",
            "n_vectors",
            F.round(F.col("n_vectors") * 1.0 / F.col("n"), 6).alias("share"),
            F.round(
                F.col("n_vectors") * 1.0 * F.col("k") / F.col("n"), 6
            ).alias("balance"),
        ),
        assigned,
    )


@query(
    "corpus_contrastive_pairs",
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
        pos AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) * 1.0 /
                   (ANY_VALUE((SELECT n_sh FROM sizes s WHERE s.doc_id = a.doc_id))
                    + ANY_VALUE((SELECT n_sh FROM sizes s WHERE s.doc_id = b.doc_id))
                    - COUNT(*)) >= 0.6
        ),
        nb AS (
            SELECT GREATEST(16, (COUNT(*) + 31) // 32) AS n_buckets
            FROM documents
        ),
        bk AS (
            SELECT doc_id,
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % (SELECT n_buckets FROM nb) AS bucket
            FROM documents
        ),
        neg AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bk a JOIN bk b
              ON a.bucket = b.bucket AND a.doc_id < b.doc_id
            WHERE ('0x' || substr(md5(a.doc_id::VARCHAR || ':' ||
                                      b.doc_id::VARCHAR), 1, 8))::BIGINT
                  % 37 = 0
              AND NOT EXISTS (SELECT 1 FROM pos p
                              WHERE p.id_a = a.doc_id
                                AND p.id_b = b.doc_id)
        )
        SELECT id_a, id_b, 1 AS label FROM pos
        UNION ALL
        SELECT id_a, id_b, 0 AS label FROM neg
    """,
)
def corpus_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining — the dataset builder for
    embedding-model fine-tuning (SimCSE/E5-style): positives are
    verified near-duplicate pairs (MinHash-LSH candidates, exact
    Jaccard ≥ 0.6 — the same bucketed pipeline as ``dedup_minhash``,
    never all-pairs), negatives are a deterministic hash-stratified
    sample of non-duplicate pairs, anti-joined against the positives
    so label noise is structurally impossible.

    Negative sampling is scale-safe because the bucket count GROWS
    with the corpus: docs land in ⌈n/32⌉ md5 buckets (footer-sized,
    min 16 — at sf0.01 that resolves to the historical 16) and only
    same-bucket pairs are candidates, so the equi-join emits
    ~⌈n/32⌉·C(32,2) ≈ 15.5·n candidate rows at ANY scale (r8: the
    bucket count was a fixed 16, leaving the candidate join n²/16 —
    the fixed-k blocking defect class of the r6 semdedup verdict);
    a pair-level md5 gate then keeps ~1/37 of them. The anti-join
    runs on the (tiny) positive relation.

    The oracle brute-forces the positives (correlated scalar
    subqueries over shingle sizes) and replays the hash sampling
    bit-for-bit."""
    docs = load(spark, sf_dir, "documents")
    from spark_query_engine.operators.dedup import minhash_near_duplicates

    # pos feeds BOTH the labeled union and the negative anti-join;
    # persist so the whole minhash pipeline runs once (the bench
    # harness clearCache()s between queries)
    mh = minhash_near_duplicates(
        docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        threshold=0.6,
    )
    pos = mh.select("id_a", "id_b").persist()
    # footer-sized bucket count (target ~32 docs/bucket, min 16) — the
    # candidate equi-join stays ~15.5·n rows at any corpus size
    nb = max(16, -(-footer_rows(spark, sf_dir, "documents") // 32))
    bk = docs.select(
        "doc_id",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % nb
        ).alias("bucket"),
    )
    cand = blocked_pairs(bk, ["bucket"], "doc_id").select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    )
    gate = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("id_a").cast("string"),
                        F.col("id_b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 37
        == 0
    )
    neg = cand.where(gate).join(pos, ["id_a", "id_b"], "left_anti")
    return carry_caches(
        release_on_drop(
            pos.withColumn("label", F.lit(1)).unionByName(
                neg.withColumn("label", F.lit(0))
            ),
            pos,
        ),
        mh,
    )


def _session_shuffle_parts(spark: SparkSession) -> int:
    """The session's shuffle width, tolerant of non-numeric values
    ("auto" under some AQE/coalesce setups) — fall back to Spark's
    default so callers' ``max()`` clamps stay monotone (ADVICE r6)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return 200


#: DuckDB twin of ``graph.copurchase_pairs``: the lineitem self-join
#: behind every co-purchase graph oracle.
_COPURCHASE_JOIN_SQL = """FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey"""

#: The distinct undirected co-purchase edge set (u < v).
_COPURCHASE_EDGES_SQL = f"""SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                            GREATEST(a.l_partkey, b.l_partkey) AS v
            {_COPURCHASE_JOIN_SQL}"""

#: Broadcast gate for the triangle closing join, in ESTIMATED edges.
#: The closing relation is two longs per edge; 4M edges is ~64 MB raw
#: (~a few hundred MB as a built broadcast hash relation) — safely
#: inside driver/executor memory here while staying far from the 8 GB
#: / 512M-row broadcast cap. Conf-overridable for cluster deployments
#: (`spark.spark_query_engine.triangle.broadcast_max_edges`); past the
#: gate the shuffled closing join with `wp` widening is used — the
#: measured-at-sf1 scale path (SCALING.md r5).
_TRI_BROADCAST_MAX_EDGES = 4_000_000


def _tri_close_strategy(spark: SparkSession, est_edges: int) -> bool:
    """True when the estimated edge count fits the broadcast gate. A
    cap that is not an integer is a configuration error and raises
    instead of silently falling back to the default."""
    key = "spark.spark_query_engine.triangle.broadcast_max_edges"
    raw = spark.conf.get(key, str(_TRI_BROADCAST_MAX_EDGES))
    try:
        cap = int(raw)
    except (TypeError, ValueError):
        raise ValueError(f"{key} must be an integer edge count, got {raw!r}") from None
    return est_edges <= cap


def _oriented_triangles(
    ed, deg, wp: int, session_parts: int, broadcast_close: bool = False
):
    """Degree-oriented wedge-join triangle count (Cohen 2009 /
    Suri-Vassilvitskii WWW'11) over an undirected edge set ``ed``
    (columns u < v) with degree table ``deg`` (n, d): orient every
    edge from its lower-(degree, id) endpoint, self-join oriented
    edges on the pivot to form wedges, close each wedge against the
    edge set. Orientation bounds out-degree by O(√m), so the wedge
    relation is O(m^1.5) worst-case with no hub blowup, and every
    triangle is generated exactly once. Returns a 1-row DataFrame
    ``n_triangles``. ``wp`` widens the wedge-scale shuffles past the
    session default when the caller's footer sizing asks for it.

    ``broadcast_close`` (r12, guide §3.1/§3.2): the closing join's
    big side is the O(m^1.5) WEDGE relation and its small side the
    O(m) edge set — broadcasting the edge set removes the wedge-scale
    Exchange entirely (the wedges are hash-probed map-side where they
    are produced). Callers gate this on an edge-count estimate
    (``_tri_close_strategy``): the broadcast build holds the whole
    edge relation on the driver and every executor, so past the gate
    the shuffled closing join (with ``wp`` widening) remains the
    scale-safe path. Only effective combined with a lineage cut on
    ``ed`` — without the cut, building the broadcast re-runs the edge
    subtree (measured SLOWER than the shuffle at sf0.1, r12 A/B).

    Shared by the exact ``graph_triangle_count`` and the DOULION-
    sampled ``graph_triangle_sampled`` (which passes the sampled edge
    set — the algorithm is sampling-agnostic)."""
    du = deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du")
    dv = deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv")
    oriented = (
        ed.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
    )
    if wp > session_parts:
        oriented = oriented.repartition(wp, "s")
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
    ).select(F.col("e1.t").alias("x"), F.col("e2.t").alias("y"))
    if wp > session_parts and not broadcast_close:
        # e1.t < e2.t makes x < y by construction, so (x, y) is the
        # canonical undirected key the closing join shuffles on —
        # widen that exchange explicitly. (With a broadcast closing
        # side there is no wedge exchange to widen.)
        wedges = wedges.repartition(wp, "x", "y")
    # close the wedge: the third edge may be oriented either way
    closing = ed.select(
        F.least("u", "v").alias("cx"), F.greatest("u", "v").alias("cy")
    )
    if broadcast_close:
        closing = F.broadcast(closing)
    return wedges.join(
        closing,
        (F.col("x") == F.col("cx")) & (F.col("y") == F.col("cy")),
    ).agg(F.count(F.lit(1)).alias("n_triangles"))


@query(
    "graph_triangle_count",
    oracle=f"""
        WITH ed AS (
            {_COPURCHASE_EDGES_SQL}
        ),
        deg AS (
            SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM ed UNION ALL SELECT v FROM ed
            ) GROUP BY n
        ),
        tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM ed e1
            JOIN ed e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN ed e3 ON e3.u = e1.v AND e3.v = e2.v
        )
        SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
               (SELECT COUNT(*) FROM ed) AS n_edges,
               (SELECT CAST(COALESCE(SUM(d * (d - 1) / 2), 0) AS BIGINT)
                FROM deg) AS n_wedges,
               (SELECT n_triangles FROM tri) AS n_triangles,
               (SELECT CASE WHEN COALESCE(SUM(d * (d - 1) / 2), 0) = 0
                            THEN 0.0
                            ELSE ROUND(3.0 * (SELECT n_triangles FROM tri)
                                       / SUM(d * (d - 1) / 2), 6) END
                FROM deg) AS transitivity
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global transitivity over the co-purchase
    graph (parts linked when they share an order) — the graph-quality
    audit behind community detection and recommendation features.

    The Spark plan uses the DEGREE-ORIENTED algorithm (Cohen 2009 /
    Suri-Vassilvitskii WWW'11): orient every edge from its
    lower-(degree, id) endpoint to the higher one, build wedges by
    self-joining oriented edges on the pivot, and close each wedge
    with a semi-ish join against the oriented edge set. Orientation
    bounds each node's out-degree by O(√m), so the wedge relation —
    the term that explodes on skewed (power-law) graphs if you pivot
    on raw adjacency — is Σ out_deg² = O(m^1.5) worst-case instead of
    Σ deg² with hub blowup. Every triangle is generated EXACTLY once
    (from its minimum-order vertex), so no /3 correction and no
    double counting.

    Three shuffles end-to-end (edge distinct, degree agg + broadcast
    back, wedge join keyed on the pivot); the closing join is keyed on
    the full (v, w) edge pair. The oracle counts triangles by the
    i<j<k brute-force join — same integers, different algorithm."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ed = copurchase_pairs(li).distinct()
    # r12 OPT (guide §3.3/§5): LAZY lineage cut on the edge relation —
    # `ed` feeds deg, both orientation sides, AND the closing join;
    # the cut materializes it once on the first action and every
    # consumer (including the broadcast build below) reads the leaf
    # instead of re-planning the lineitem self-join + distinct.
    # Alternating A/B at sf0.1 (min-of-4): 11.35 s -> 7.07 s together
    # with the broadcast closing join; broadcast WITHOUT the cut
    # measured 18.5 s (the broadcast build re-ran the edge subtree).
    ed = cut_lineage(ed, eager=False)
    # r11 OPT: degree via ONE explode pass instead of a two-branch
    # union — each union branch re-ran the post-shuffle distinct
    # aggregate over the (AQE-reused) edge exchange, so the explode
    # halves the heavy consumers of `ed`; n_edges below moves off
    # `ed` entirely (sum(d)/2 over the node-scale degree relation).
    # Fresh-session min-of-6 at sf0.1: 10.93 s -> 7.36 s (-33%,
    # typical-run ratio ~11.3 -> ~7.7).
    deg = (
        ed.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Size the wedge-scale shuffles to the WEDGE relation, not the
    # session default: at sf1 the oriented wedge relation reaches
    # ~1.5 B rows (~24 GB at 16 B/row) and a 32-partition shuffle
    # spills — round-5 measurement (SCALING.md): 32→52.4 s,
    # 128→35.1 s, 256→36.7 s. The knob is anchored to that
    # measurement via the one scalar available WITHOUT a pre-pass
    # job: the lineitem row count (parquet-footer count, ~0.1 s).
    # 6 M rows → the measured-optimal 128 partitions, linear in
    # rows, never below the session default, capped at 4096. When
    # the resolved width equals the session default (all SF ≤ 0.3
    # locally) the plan is left untouched — no repartition nodes,
    # no extra exchange.
    li_rows = footer_rows(spark, sf_dir, "lineitem")
    session_parts = _session_shuffle_parts(spark)
    wp = max(session_parts, min(4096, (li_rows * 128) // 6_000_000))
    # r12 OPT (guide §3.1/§3.2): the closing join's big side is the
    # O(m^1.5) wedge relation, its small side the O(m) edge set —
    # broadcast the edge set when it fits (est. edges ≈ 2×lineitem
    # rows on this co-purchase graph, measured 1.196M / 600k at
    # sf0.1) so the wedges are closed map-side with NO wedge-scale
    # Exchange. Past the conf-gated estimate the shuffled path with
    # `wp` widening remains (the 100 TB-safe shape).
    tri = _oriented_triangles(
        ed,
        deg,
        wp,
        session_parts,
        broadcast_close=_tri_close_strategy(spark, 2 * li_rows),
    )
    # n_edges = sum(d)/2 exactly (every edge contributes two degree
    # ends); reading it off the node-scale deg relation removes the
    # last full-pass consumer of `ed` outside the wedge machinery.
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint"),
            F.lit(0),
        ).alias("n_wedges"),
        (F.coalesce(F.sum("d"), F.lit(0)) / 2)
        .cast("bigint")
        .alias("n_edges"),
    )
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
        )
        .alias("transitivity"),
    )


#: Sampled-triangle budget: the smallest gate threshold t ∈ [16, 256]
#: with t³·n_lineitem ≥ 256³·20000 — i.e. p³·n ≥ 20000 with p = t/256.
#: Triangles grow ~linearly in n on this corpus (measured: 414 k at
#: 60 k lineitem rows, 1.88 M at 600 k), so p³ ∝ 1/n keeps the
#: EXPECTED SAMPLED TRIANGLE COUNT constant (~65 k) at every scale:
#: the estimator's relative error stays ~1/√65k ≈ 0.4 % from sf0.01
#: to 100 TB while the wedge-join cost falls as p². Pure integer
#: arithmetic so Spark (Python) and DuckDB (range scan) derive the
#: IDENTICAL threshold with zero float-boundary risk.
_TRI_SAMPLE_BUDGET = 256**3 * 20_000  # = 335_544_320_000


def _tri_sample_threshold(n_lineitem: int) -> int:
    for t in range(16, 257):
        if t * t * t * n_lineitem >= _TRI_SAMPLE_BUDGET:
            return t
    return 256


@query(
    "graph_triangle_sampled",
    oracle=f"""
        WITH nli AS (SELECT COUNT(*) AS n FROM lineitem),
        cfg AS (
            SELECT COALESCE(
                (SELECT MIN(t) FROM range(16, 257) r(t), nli
                  WHERE t * t * t * nli.n >= 335544320000),
                256) AS thr
        ),
        sed AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            {_COPURCHASE_JOIN_SQL}
            WHERE ('0x' || substr(md5('tri:' || a.l_partkey::VARCHAR
                   || ':' || b.l_partkey::VARCHAR), 1, 2))::BIGINT
                  < (SELECT thr FROM cfg)
        ),
        tri AS (
            SELECT COUNT(*) AS t
            FROM sed e1
            JOIN sed e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN sed e3 ON e3.u = e1.v AND e3.v = e2.v
        )
        SELECT thr AS thr_256,
               thr / 256.0 AS sample_p,
               (SELECT COUNT(*) FROM sed) AS n_edges_sampled,
               ROUND((SELECT COUNT(*) FROM sed) * 256.0 / thr, 3)
                   AS est_edges,
               (SELECT t FROM tri) AS n_tri_sampled,
               ROUND((SELECT t FROM tri) * 16777216.0
                     / (thr * thr * thr), 3) AS est_triangles
        FROM cfg
    """,
)
def graph_triangle_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION-style sampled triangle count (Tsourakakis et al., KDD
    2009) — the priced SCALE TIER for the one superlinear heavyweight
    in the registry: exact triangle counting is Θ(m^1.5) in the wedge
    join (``graph_triangle_count``, measured exp 0.90 / 116 s at sf3),
    while edge-sampling at probability p counts triangles on a p-thinned
    graph and unbiases by 1/p³, cutting the wedge relation by p².

    Sampling is SEEDED and PORTABLE (the repo's standard md5 trick):
    an edge survives iff the first byte of md5('tri:u:v') < t, with
    t ∈ [16, 256] the smallest integer where t³·n_lineitem ≥ 256³·2e4
    (see ``_tri_sample_threshold`` — integer arithmetic, so the DuckDB
    oracle replays the EXACT same sample and the driver hash-matches
    bit-for-bit; the estimator's accuracy vs the exact count is
    asserted separately, SCALING.md r11). p³ ∝ 1/n keeps the expected
    sampled-triangle count ~65 k at every scale: constant ~0.4 %
    relative error while cost falls — at sf0.01 t=178 (p=0.70), at
    sf0.1 t=83 (p=0.32), at sf1 t=39 (p=0.15), at sf3 t=27 (p=0.11).

    The gate is applied BELOW the distinct (it is a pure function of
    the edge key), so the edge-dedup shuffle itself shrinks by p —
    only the co-purchase pair enumeration runs at full scale, and that
    is a single co-partitioned self-join on l_orderkey. Estimates for
    BOTH edges and triangles are exact binary arithmetic (p = t/256 is
    an exact double; 1/p³ = 2²⁴/t³ applied as integer-scaled double
    division) so the two engines agree to the last bit.

    Reference context: SURVEY.md §2.4 ABSENT (the reference engine has
    no joins — this is the beyond-parity graph plane); r10 verdict
    task 1."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    thr = _tri_sample_threshold(footer_rows(spark, sf_dir, "lineitem"))
    pairs = copurchase_pairs(li)
    gate = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit("tri"),
                        F.col("u").cast("string"),
                        F.col("v").cast("string"),
                    )
                ),
                1,
                2,
            ),
            16,
            10,
        ).cast("long")
        < thr
    )
    sed = pairs.where(gate).distinct()
    # r12 OPT: same lazy lineage cut as the exact query — `sed` feeds
    # deg, both orientation sides, and the closing join; materialize
    # once, consumers read the leaf (see graph_triangle_count).
    sed = cut_lineage(sed, eager=False)
    # r11 OPT: same explode-degree / n_edges-from-deg restructure as
    # the exact query (see graph_triangle_count): min-of-6 alternating
    # A/B at sf0.1 5.27 s -> 4.50 s (-15%).
    deg = (
        sed.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # The sampled wedge relation is p² of the exact one, so the
    # footer-sized width knob scales by t²/256² — at every locally
    # measured SF it resolves to the session default (no extra
    # exchange); at 100× it widens exactly like the exact query.
    session_parts = _session_shuffle_parts(spark)
    li_rows_eff = (footer_rows(spark, sf_dir, "lineitem") * thr * thr) // (
        256 * 256
    )
    wp = max(session_parts, min(4096, (li_rows_eff * 128) // 6_000_000))
    # r12 OPT: broadcast the (p-thinned) closing edge set under the
    # same conf-gated estimate as the exact query — sampled edges ≈
    # 2×lineitem rows × p (see graph_triangle_count).
    tri = _oriented_triangles(
        sed,
        deg,
        wp,
        session_parts,
        broadcast_close=_tri_close_strategy(
            spark, (2 * footer_rows(spark, sf_dir, "lineitem") * thr) // 256
        ),
    ).withColumnRenamed("n_triangles", "n_tri_sampled")
    stats = deg.agg(
        (F.coalesce(F.sum("d"), F.lit(0)) / 2)
        .cast("bigint")
        .alias("n_edges_sampled")
    )
    return stats.crossJoin(tri).select(
        F.lit(thr).cast("bigint").alias("thr_256"),
        F.lit(thr / 256.0).alias("sample_p"),
        "n_edges_sampled",
        F.round(F.col("n_edges_sampled") * 256.0 / thr, 3).alias("est_edges"),
        "n_tri_sampled",
        F.round(
            F.col("n_tri_sampled") * 16777216.0 / (thr * thr * thr), 3
        ).alias("est_triangles"),
    )


@query(
    "sample_reservoir_group",
    oracle="""
        SELECT source, doc_id, n_chars
        FROM (
            SELECT source, doc_id, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(doc_id::VARCHAR), doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= 10
    """,
)
def sample_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k sample per group — the per-source
    inspection sample every curation dashboard needs. Ordering by
    md5(doc_id) is an order-statistics reservoir (the classic
    min-wise sample): each group's k smallest hashes are a uniform
    k-subset, reproducible across runs, partitionings, and engines —
    unlike rand()-based reservoirs.

    Spark plans the rank-k filter as WindowGroupLimit: the top-10
    selection happens BEFORE any full-group sort materializes, so
    per-group cost is O(n log k)-ish with only the group shuffle —
    group count is the parallelism axis at 100 TB."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .drop("rn")
    )


def _bpe_apply_ctes(r: int, prev: str) -> str:
    """Apply-side fold: replay round ``r``'s winning merge (best{r},
    learned on the TRAIN split) over the full-corpus token relation —
    the same recursive left-to-right fold as the trainer, driven by a
    rule it did not learn from."""
    return f"""
        afold{r}(w, f, i, acc, a, b, m) AS (
            SELECT c.w, c.f, 1, [c.t[1]], bb.a, bb.b, bb.m
            FROM {prev} c CROSS JOIN best{r} bb
            UNION ALL
            SELECT c.w, c.f, fd.i + 1,
                   CASE WHEN fd.acc[-1] = fd.a AND c.t[fd.i+1] = fd.b
                        THEN list_slice(fd.acc, 1, len(fd.acc)-1) || [fd.m]
                        ELSE fd.acc || [c.t[fd.i+1]] END,
                   fd.a, fd.b, fd.m
            FROM afold{r} fd JOIN {prev} c USING (w, f)
            WHERE fd.i < len(c.t)
        ),
        atok{r} AS (SELECT fd.w, fd.f, fd.acc AS t
                    FROM afold{r} fd JOIN {prev} c USING (w, f)
                    WHERE fd.i = len(c.t))
    """


_BPE_TOKENIZE_ORACLE = (
    """
    WITH RECURSIVE fp AS (
        SELECT doc_id, text,
               ('0x' || substr(md5(md5(trim(regexp_replace(
                    lower(text), '\\s+', ' ', 'g')))), 1, 8))::BIGINT % 100
                   AS bucket
        FROM documents
    ),
    words AS (
        SELECT w, COUNT(*) AS f FROM (
            SELECT unnest(string_split(text, ' ')) AS w
            FROM fp WHERE bucket >= 2)
        WHERE length(w) > 0 GROUP BY w
    ),
    tok0 AS (SELECT w, f,
                    list_transform(range(1, length(w)+1), i -> w[i]) AS t
             FROM words),
    """
    + ",\n".join(_bpe_round_ctes(r, f"tok{r-1}") for r in range(1, _BPE_ROUNDS + 1))
    + """,
    awords AS (
        SELECT w, COUNT(*) AS f FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) > 0 GROUP BY w
    ),
    atok0 AS (SELECT w, f,
                     list_transform(range(1, length(w)+1), i -> w[i]) AS t
              FROM awords),
    """
    + ",\n".join(
        _bpe_apply_ctes(r, f"atok{r-1}") for r in range(1, _BPE_ROUNDS + 1)
    )
    + f"""
    SELECT a.w AS word, a.f AS freq, len(a.t) AS n_tokens,
           array_to_string(a.t, '|') AS seg,
           a.w IN (SELECT w FROM words) AS in_train
    FROM atok{_BPE_ROUNDS} a
    """
)


@query("corpus_bpe_tokenize", oracle=_BPE_TOKENIZE_ORACLE)
def corpus_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/apply BPE tokenization with a leakage-free boundary — the
    missing half of ``corpus_bpe_train``: merges are learned ONLY on
    the train split (the same normalized-fingerprint md5 buckets as
    ``corpus_eval_split``), then applied to EVERY word type in the
    corpus via ``textanalysis.bpe_apply``. Unseen (val/test-only)
    words degrade gracefully to partial merges over the char base —
    the no-OOV property that makes BPE the pretraining default.

    The oracle replays BOTH halves as recursive CTEs: the train-side
    pair-count/winner/fold chain of the trainer, plus a second fold
    chain applying each learned rule to the full-corpus word-type
    relation, and flags per word whether it was visible in training.

    Scale: training cost is bounded by the train-split vocab; apply
    is a zero-shuffle codegen fold over the corpus vocab. The driver
    carries 1 row per merge (the learned table), exactly like k-means
    centroid state."""
    from spark_query_engine.operators.textanalysis import bpe_apply, bpe_train

    docs = widen(load(spark, sf_dir, "documents"))
    norm_fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    )
    bucket = (
        F.conv(F.substring(F.md5(norm_fp), 1, 8), 16, 10).cast("long") % 100
    )
    train_docs = docs.where(bucket >= 2)
    train_toks, merges = bpe_train(train_docs, "text", rounds=_BPE_ROUNDS)
    seg = bpe_apply(docs, "text", merges)
    train_vocab = train_toks.select("w", F.lit(True).alias("in_train"))
    train_toks.unpersist()
    return (
        seg.join(train_vocab, "w", "left")
        .select(
            F.col("w").alias("word"),
            F.col("f").alias("freq"),
            F.size("t").alias("n_tokens"),
            F.array_join("t", "|").alias("seg"),
            F.coalesce("in_train", F.lit(False)).alias("in_train"),
        )
    )


# ----------------------------------------------------------- RAG capstone
#: Retrieval-index geometry: non-overlapping 16-token chunks, 8-dim
#: deterministic chunk embeddings, 4 LSH hyperplanes (16 buckets),
#: top-3 chunks per query. Plane and query-vector components are
#: dyadic rationals k/1024 derived from md5 at import time (hashlib —
#: same constants embed in the Spark plan and the oracle SQL), so
#: every dot product is a sum of dyadics: EXACT in double arithmetic
#: in any order, on any engine.
_RAG_DIM = 8
_RAG_PLANES = 4
_RAG_TOPK = 3
_RAG_CHUNK = 16


def _rag_const(tag: str) -> float:
    import hashlib

    h = int(hashlib.md5(tag.encode()).hexdigest()[:8], 16)
    return ((h % 2049) - 1024) / 1024.0


_RAG_PLANE = [
    [_rag_const(f"plane:{h}:{d}") for d in range(_RAG_DIM)]
    for h in range(_RAG_PLANES)
]
_RAG_QUERY = [
    [_rag_const(f"query:{i}:{d}") for d in range(_RAG_DIM)] for i in range(4)
]


def _rag_bucket(vec: list[float], planes: list[list[float]]) -> int:
    return sum(
        (1 << h)
        for h, p in enumerate(planes)
        if sum(v * w for v, w in zip(vec, p)) > 0
    )


def _rag_oracle() -> str:
    vd_sql = ",\n                   ".join(
        f"((('0x' || substr(md5(chunk_fp || ':{d}'), 1, 8))::BIGINT"
        f" % 2049) - 1024) / 1024.0 AS v{d}"
        for d in range(_RAG_DIM)
    )
    bucket_sql = " + ".join(
        "(CASE WHEN "
        + " + ".join(f"v{d} * ({_RAG_PLANE[h][d]!r})" for d in range(_RAG_DIM))
        + f" > 0 THEN {1 << h} ELSE 0 END)"
        for h in range(_RAG_PLANES)
    )
    na2_sql = " + ".join(f"v{d} * v{d}" for d in range(_RAG_DIM))
    qrows = ",\n                ".join(
        f"({i}, {_rag_bucket(_RAG_QUERY[i], _RAG_PLANE)}, "
        + ", ".join(repr(_RAG_QUERY[i][d]) for d in range(_RAG_DIM))
        + ", "
        + repr(sum(q * q for q in _RAG_QUERY[i]))
        + ")"
        for i in range(4)
    )
    qcols = ", ".join(f"q{d}" for d in range(_RAG_DIM))
    dot_sql = " + ".join(f"e.v{d} * q.q{d}" for d in range(_RAG_DIM))
    return f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ),
        s AS (
            SELECT doc_id, tk,
                   unnest(range(0, len(tk), {_RAG_CHUNK})) AS st
            FROM t
        ),
        chunks AS (
            SELECT doc_id, st // {_RAG_CHUNK} AS chunk_idx,
                   md5(array_to_string(
                       list_slice(tk, st + 1, st + {_RAG_CHUNK}), ' '))
                       AS chunk_fp
            FROM s
        ),
        emb AS (
            SELECT doc_id, chunk_idx, chunk_fp,
                   {vd_sql}
            FROM chunks
        ),
        indexed AS (
            SELECT *, {bucket_sql} AS bucket, {na2_sql} AS na2 FROM emb
        ),
        queries(query_id, bucket, {qcols}, nb2) AS (
            VALUES {qrows}
        ),
        scored AS (
            SELECT q.query_id, e.doc_id, e.chunk_idx, e.chunk_fp,
                   {dot_sql} AS dot, e.na2, q.nb2
            FROM indexed e JOIN queries q ON e.bucket = q.bucket
        ),
        ranked AS (
            SELECT query_id, doc_id, chunk_idx, chunk_fp,
                   CASE WHEN dot < 0
                        THEN -((dot * dot) / (na2 * nb2))
                        ELSE (dot * dot) / (na2 * nb2) END AS srq,
                   CASE WHEN dot < 0
                        THEN -ROUND(sqrt((dot * dot) / (na2 * nb2)), 6)
                        ELSE ROUND(sqrt((dot * dot) / (na2 * nb2)), 6) END
                       AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY CASE WHEN dot < 0
                                     THEN -((dot * dot) / (na2 * nb2))
                                     ELSE (dot * dot) / (na2 * nb2) END DESC,
                                chunk_fp, doc_id, chunk_idx
                   ) AS rank
            FROM scored
        )
        SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, chunk_idx,
               chunk_fp, cosine
        FROM ranked WHERE rank <= {_RAG_TOPK}
    """


@query("pipeline_rag_index", oracle=_rag_oracle())
def pipeline_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG indexing + retrieval capstone in ONE Catalyst plan: chunk
    every document (non-overlapping 16-token windows), embed each
    chunk (deterministic 8-dim md5-derived vector — the stand-in for
    a model embedding, chosen so the oracle can replay it), build a
    4-hyperplane LSH index (16 buckets), and serve a 4-query batch:
    bucket-probe → exact cosine rerank → top-3 chunks per query with
    document provenance.

    Ranking never touches libm: the order key is the SIGNED SQUARED
    cosine dot²·sign(dot)/(‖a‖²‖b‖²) — a ratio of exactly-representable
    dyadic rationals (components are k/1024, so every dot product,
    square, and norm is exact in double arithmetic in any order on
    any engine); sqrt appears only in the displayed cosine, rounded
    at 6dp. Full tiebreak (srq, chunk_fp, doc_id, chunk_idx) pins the
    cut at rank 3.

    Scale: chunk+embed+bucket is one narrow codegen scan (the
    embedding is 8 md5 expressions, the index bits 4 dot-product
    CASEs); the probe is a BROADCAST equi-join of the 4-row query
    batch on the bucket key; the rank window partitions by query over
    bucket-sized candidate lists (corpus/16 expected — at 100 TB you
    raise the plane count so lists stay bounded, same plan). Swapping
    the md5 embedding for a real model is one mapInPandas before the
    bucket expression; the index, probe, and rerank stages are
    unchanged."""
    from spark_query_engine.operators.textanalysis import chunk_sliding

    docs = load(spark, sf_dir, "documents")
    chunks = chunk_sliding(
        widen(docs), "doc_id", "text", size=_RAG_CHUNK, stride=_RAG_CHUNK
    ).select(F.col("id").alias("doc_id"), "chunk_idx", "chunk_fp")

    vd = [
        (
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("chunk_fp"), F.lit(f":{d}"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2049
                - 1024
            )
            / 1024.0
        ).alias(f"v{d}")
        for d in range(_RAG_DIM)
    ]
    emb = chunks.select("doc_id", "chunk_idx", "chunk_fp", *vd)
    bucket = sum(
        F.when(
            sum(
                F.col(f"v{d}") * F.lit(_RAG_PLANE[h][d])
                for d in range(_RAG_DIM)
            )
            > 0,
            F.lit(1 << h),
        ).otherwise(0)
        for h in range(_RAG_PLANES)
    )
    na2 = sum(F.col(f"v{d}") * F.col(f"v{d}") for d in range(_RAG_DIM))
    indexed = emb.withColumn("bucket", bucket).withColumn("na2", na2)

    qrows = [
        (
            i,
            _rag_bucket(_RAG_QUERY[i], _RAG_PLANE),
            *[_RAG_QUERY[i][d] for d in range(_RAG_DIM)],
            sum(q * q for q in _RAG_QUERY[i]),
        )
        for i in range(4)
    ]
    qschema = (
        "query_id int, bucket int, "
        + ", ".join(f"q{d} double" for d in range(_RAG_DIM))
        + ", nb2 double"
    )
    qdf = chunks.sparkSession.createDataFrame(qrows, qschema)

    dot = sum(F.col(f"v{d}") * F.col(f"q{d}") for d in range(_RAG_DIM))
    scored = indexed.join(F.broadcast(qdf), "bucket").select(
        "query_id", "doc_id", "chunk_idx", "chunk_fp",
        dot.alias("dot"), "na2", "nb2",
    )
    sq = (F.col("dot") * F.col("dot")) / (F.col("na2") * F.col("nb2"))
    srq = F.when(F.col("dot") < 0, -sq).otherwise(sq)
    cosine = F.when(
        F.col("dot") < 0, -F.round(F.sqrt(sq), 6)
    ).otherwise(F.round(F.sqrt(sq), 6))
    w = Window.partitionBy("query_id").orderBy(
        srq.desc(), "chunk_fp", "doc_id", "chunk_idx"
    )
    return (
        scored.withColumn("srq", srq)
        .withColumn("cosine", cosine)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _RAG_TOPK)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "doc_id",
            "chunk_idx",
            "chunk_fp",
            "cosine",
        )
    )


@query(
    "data_skipping_audit",
    oracle=f"""
        WITH q AS (
            SELECT o_orderkey,
                   CAST(o_custkey % 65536 AS BIGINT) AS xq,
                   CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
                        % 65536 AS BIGINT) AS yq
            FROM orders
        ),
        z AS (
            SELECT o_orderkey, xq, yq,
                   {_zorder_sql('xq', 'yq')} AS zval
            FROM q
        ),
        env AS (
            SELECT zval // 65536 AS zbucket,
                   COUNT(*) AS n_rows,
                   MIN(xq) AS x_min, MAX(xq) AS x_max,
                   MIN(yq) AS y_min, MAX(yq) AS y_max
            FROM z GROUP BY 1
        ),
        probe AS (
            SELECT zbucket, n_rows,
                   (x_min <= 1000 AND x_max >= 500
                    AND y_min <= 2000 AND y_max >= 1500) AS must_read
            FROM env
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(CASE WHEN must_read THEN 1 ELSE 0 END) AS BIGINT)
                   AS buckets_read,
               CAST(SUM(n_rows) AS BIGINT) AS rows_total,
               CAST(SUM(CASE WHEN must_read THEN n_rows ELSE 0 END)
                    AS BIGINT) AS rows_scanned,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM z
                WHERE xq BETWEEN 500 AND 1000
                  AND yq BETWEEN 1500 AND 2000) AS rows_matching,
               ROUND(SUM(CASE WHEN must_read THEN n_rows ELSE 0 END) * 1.0
                     / SUM(n_rows), 6) AS scan_fraction
        FROM probe
    """,
)
def data_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness audit over the Z-order layout: take
    the per-bucket min/max envelopes ``data_zorder_layout`` would
    write as file statistics, probe them with a 2-D box predicate
    (x∈[500,1000] × y∈[600,900] — the manifest-pruning step a lake
    engine runs BEFORE opening any file), and report buckets read,
    rows scanned vs rows actually matching, and the scan fraction —
    the number that justifies OPTIMIZE ZORDER BY in the first place
    (linear layouts read ~100% for a 2-D box; Morton buckets read the
    box's Z-curve neighborhood).

    Pure composition on the layout relation: the envelope probe runs
    on |buckets| rows (manifest-sized, never data-sized); the
    ground-truth count is one predicate scan the audit exists to
    avoid at production time."""
    from spark_query_engine.queries.training import _zorder_col

    o = load(spark, sf_dir, "orders")
    q = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).cast("bigint").alias("xq"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
            % 65536
        )
        .cast("bigint")
        .alias("yq"),
    )
    z = q.select("o_orderkey", "xq", "yq", _zorder_col("xq", "yq").alias("zval"))
    env = z.groupBy((F.col("zval") / 65536).cast("bigint").alias("zbucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("xq").alias("x_min"),
        F.max("xq").alias("x_max"),
        F.min("yq").alias("y_min"),
        F.max("yq").alias("y_max"),
    )
    must_read = (
        (F.col("x_min") <= 1000)
        & (F.col("x_max") >= 500)
        & (F.col("y_min") <= 2000)
        & (F.col("y_max") >= 1500)
    )
    probe = env.select("n_rows", must_read.alias("must_read"))
    truth = z.where(
        F.col("xq").between(500, 1000) & F.col("yq").between(1500, 2000)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("rows_matching"))
    return (
        probe.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(F.when(F.col("must_read"), 1).otherwise(0))
            .cast("bigint")
            .alias("buckets_read"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum(F.when(F.col("must_read"), F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
        )
        .crossJoin(truth)
        .select(
            "n_buckets",
            "buckets_read",
            "rows_total",
            "rows_scanned",
            "rows_matching",
            F.round(
                F.col("rows_scanned") / F.col("rows_total"), 6
            ).alias("scan_fraction"),
        )
    )


@query(
    "corpus_chunk_dedup",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        ),
        s AS (
            SELECT doc_id, tk,
                   unnest(range(0, len(tk), {_STRIDE})) AS st
            FROM t
        ),
        chunks AS (
            SELECT doc_id, st // {_STRIDE} AS chunk_idx,
                   md5(array_to_string(
                       list_slice(tk, st + 1, st + {_CHUNK}), ' '))
                       AS chunk_fp
            FROM s
        ),
        freq AS (SELECT chunk_fp, COUNT(*) AS n FROM chunks GROUP BY 1)
        SELECT c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_chunks,
               ROUND(SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS dup_share
        FROM chunks c JOIN freq f USING (chunk_fp)
        GROUP BY c.doc_id
    """,
)
def corpus_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-level dedup pressure per document — the cross-document
    duplicate measure at the granularity the trainer actually
    consumes (a doc that is 80% duplicated CHUNKS pollutes training
    even if no whole-document twin exists). Exactly the promise in
    ``corpus_chunk_sliding``'s docstring cashed in: the md5 chunk
    fingerprint is the dedup key; one fingerprint-keyed count joined
    back gives every document its duplicated-chunk share — the input
    to a drop-or-keep gate upstream of ``pipeline_pretraining_full``.

    Two shuffles (fingerprint count, per-doc rollup) over the chunk
    relation; the chunker itself stays the zero-shuffle narrow scan."""
    from spark_query_engine.operators.textanalysis import chunk_sliding

    docs = load(spark, sf_dir, "documents")
    chunks = chunk_sliding(
        docs, "doc_id", "text", size=_CHUNK, stride=_STRIDE
    ).select(F.col("id").alias("doc_id"), "chunk_fp").persist()
    freq = chunks.groupBy("chunk_fp").agg(F.count(F.lit(1)).alias("n"))
    return (
        chunks.join(freq, "chunk_fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.round(
                F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("dup_share"),
        )
    )


@query(
    "corpus_bpe_fertility",
    oracle=_BPE_TOKENIZE_ORACLE.replace(
        """    SELECT a.w AS word, a.f AS freq, len(a.t) AS n_tokens,
           array_to_string(a.t, '|') AS seg,
           a.w IN (SELECT w FROM words) AS in_train
    FROM atok3 a
    """,
        """    SELECT a.w IN (SELECT w FROM words) AS in_train,
           CAST(COUNT(*) AS BIGINT) AS n_word_types,
           CAST(SUM(a.f) AS BIGINT) AS n_occurrences,
           CAST(SUM(a.f * len(a.t)) AS BIGINT) AS n_tokens_emitted,
           ROUND(SUM(a.f * len(a.t)) * 1.0 / SUM(a.f), 6) AS fertility
    FROM atok3 a
    GROUP BY 1
    """,
    ),
)
def corpus_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY — tokens emitted per word occurrence, the
    single number that prices a tokenizer (fertility 1.3 vs 2.0 is a
    35% shorter sequence for the same text: context budget, training
    FLOPs, and serving cost all scale with it) — split by whether
    the word was visible at training time. Unseen-word fertility is
    the degradation the leakage-free train/apply boundary exists to
    measure. Pure rollup over the ``corpus_bpe_tokenize`` relation,
    occurrence-weighted; the oracle is that query's train+apply CTE
    chain with the census head swapped on."""
    from spark_query_engine.operators.textanalysis import bpe_apply, bpe_train

    docs = widen(load(spark, sf_dir, "documents"))
    norm_fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    )
    bucket = (
        F.conv(F.substring(F.md5(norm_fp), 1, 8), 16, 10).cast("long") % 100
    )
    train_docs = docs.where(bucket >= 2)
    train_toks, merges = bpe_train(train_docs, "text", rounds=_BPE_ROUNDS)
    seg = bpe_apply(docs, "text", merges)
    train_vocab = train_toks.select("w", F.lit(True).alias("seen"))
    train_toks.unpersist()
    tagged = seg.join(train_vocab, "w", "left").select(
        F.coalesce("seen", F.lit(False)).alias("in_train"),
        "f",
        F.size("t").alias("n_t"),
    )
    return tagged.groupBy("in_train").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_word_types"),
        F.sum("f").cast("bigint").alias("n_occurrences"),
        F.sum(F.col("f").cast("decimal(38,0)") * F.col("n_t")).cast("bigint").alias(
            "n_tokens_emitted"
        ),
        F.round(
            F.sum(F.col("f") * F.col("n_t")) / F.sum("f"), 6
        ).alias("fertility"),
    )


@query(
    "graph_components_deep_chain",
    oracle="""
        WITH g AS (
            SELECT o_orderkey,
                   COUNT(*) OVER (PARTITION BY o_orderpriority) AS n,
                   MIN(o_orderkey) OVER (PARTITION BY o_orderpriority) AS m
            FROM orders
        )
        SELECT o_orderkey AS id, m AS component
        FROM g WHERE n >= 2
    """,
)
def graph_components_deep_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on an adversarially DEEP graph — the shape
    that breaks min-label propagation: orders chain consecutively
    (by o_orderkey) within their priority class, giving 5 path
    components whose diameter is n/5 (thousands at sf0.01, ~30k at
    sf0.1). Label propagation needs diameter rounds (it now raises at
    max_iter rather than silently splitting the chain — measured: a
    1000-node path at 25 rounds came back as 975 bogus components);
    large-star/small-star contracts the same chains in O(log n)
    rounds of equi-join + min-aggregation, so the registered query
    runs the star operator at its design point.

    The oracle sidesteps recursion entirely: consecutive-rank edges
    make each priority class exactly one path, so every member's
    component is the class MIN — a window aggregate, exact at any sf.
    The Spark side gets NO such shortcut: it sees only the edge list
    and must actually converge. Edge construction is one ranked
    window (lead over the priority partition); groups of one order
    would contribute no edge and drop from the output, mirrored by
    the oracle's n >= 2 guard."""
    from spark_query_engine.operators import dedup as D

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    edges = (
        orders.withColumn("nxt", F.lead("o_orderkey").over(w))
        .where(F.col("nxt").isNotNull())
        .select(
            F.col("o_orderkey").alias("id_a"), F.col("nxt").alias("id_b")
        )
    )
    return D.connected_components(edges)


@query(
    "vec_matryoshka_audit",
    oracle="""
        WITH v AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ),
        p AS (
            SELECT a.id, a.vec AS va, b.vec AS vb
            FROM v a JOIN v b ON b.id = a.id + 1
        ),
        d AS (SELECT unnest([8, 16, 32, 64]) AS dims),
        scored AS (
            SELECT d.dims,
                   ROUND(list_cosine_similarity(va, vb), 6) AS cf,
                   ROUND(list_cosine_similarity(va[1:d.dims],
                                                vb[1:d.dims]), 6) AS ct
            FROM p, d
        )
        SELECT dims,
               COUNT(*) AS n_pairs,
               ROUND(AVG(ABS(ct - cf)), 6) AS mean_abs_err,
               ROUND(MAX(ABS(ct - cf)), 6) AS max_abs_err,
               CAST(SUM(CASE WHEN (ct >= 0) <> (cf >= 0) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sign_flips
        FROM scored GROUP BY dims
    """,
)
def vec_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation fidelity audit: can the leading d' dims of
    the embedding stand in for all 64 (the MRL deployment question —
    truncated vectors cut ANN index memory d/d' fold)? Over the
    deterministic consecutive-id pair sample, per prefix length:
    mean/max absolute cosine error and sign flips versus the full
    vector. On THIS corpus's iid embeddings the error is large by
    construction (no dimension ordering — exactly what the audit
    should show for non-MRL vectors); MRL-trained embeddings would
    show the front-loaded fidelity that licenses truncation.

    Plan: the pair sample is a self-join on id+1 (shuffle hash join,
    O(n)); scoring fans each pair across the 4-row prefix dimension
    (constant fan-out) and aggregates per prefix — one scan, one
    small-key hash agg. All cosines on 6dp-rounded sequential folds,
    replayed by the oracle."""
    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    a = v.select("id", F.col("vec").alias("va"))
    b = v.select((F.col("id") - 1).alias("id"), F.col("vec").alias("vb"))
    p = a.join(b, "id")
    dims = spark.createDataFrame([(8,), (16,), (32,), (64,)], "dims int")
    scored = p.crossJoin(F.broadcast(dims)).select(
        "dims",
        F.expr(f"round({cosine('va', 'vb')}, 6)").alias("cf"),
        F.expr(
            f"round({cosine('slice(va, 1, dims)', 'slice(vb, 1, dims)')}, 6)"
        ).alias("ct"),
    )
    err = F.abs(F.col("ct") - F.col("cf"))
    return scored.groupBy("dims").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg(err), 6).alias("mean_abs_err"),
        F.round(F.max(err), 6).alias("max_abs_err"),
        F.sum(
            ((F.col("ct") >= 0) != (F.col("cf") >= 0)).cast("int")
        ).cast("bigint").alias("n_sign_flips"),
    )


#: Sequence-packing geometry: context window of 64 tokens; the shard
#: count (each shard packs independently — the parallel unit) is
#: FOOTER-SIZED to ⌈n/4096⌉ with a floor of 8, so a shard stays a
#: bounded single-task cumsum as the corpus grows (a fixed shard
#: count makes shard size ∝ n — the r8 fixed-denominator blocking
#: defect class). At every test scale up to sf0.3 this resolves to
#: the historical 8; the whole pack family (sequences, utilization,
#: export manifest) shares the same layout.
_PACK_C, _PACK_SHARDS = 64, 8

#: Oracle-side shard count: the same ⌈n/4096⌉ (floor 8) as a scalar
#: subquery, so both engines derive it from the corpus itself.
_PACK_SHARDS_EXPR = "(SELECT GREATEST(8, (COUNT(*) + 4095) // 4096) FROM documents)"


def _pack_shards(spark: SparkSession, sf_dir: str) -> int:
    return max(8, -(-footer_rows(spark, sf_dir, "documents") // 4096))


@query(
    "corpus_pack_sequences",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, doc_id % {_PACK_SHARDS_EXPR} AS shard,
                   len(string_split(text, ' ')) AS n_toks
            FROM documents
        ),
        o AS (
            SELECT doc_id, shard, n_toks,
                   CAST(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING)
                        - n_toks AS BIGINT) AS off
            FROM t
        ),
        b AS (
            SELECT doc_id, shard, n_toks, off,
                   unnest(range(CAST(off // {_PACK_C} AS BIGINT),
                                CAST((off + n_toks - 1) // {_PACK_C} + 1
                                     AS BIGINT))) AS bin
            FROM o
        )
        SELECT shard, bin AS bin_id, doc_id,
               GREATEST(off, bin * {_PACK_C}) - bin * {_PACK_C} AS bin_off,
               LEAST(off + n_toks, (bin + 1) * {_PACK_C})
                   - GREATEST(off, bin * {_PACK_C}) AS n_in_bin,
               GREATEST(off, bin * {_PACK_C}) - off AS doc_off
        FROM b
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing — the pretraining loader's
    concatenate-and-split step: within each shard, documents
    concatenate in deterministic (doc_id) order into one token stream
    that is cut into fixed {_PACK_C}-token context windows; a document
    straddling a window boundary SPLITS across bins (the standard
    packing used when nothing may be dropped — contrast
    ``corpus_chunk_sliding``, which overlaps windows per-doc instead).
    Output: one row per (document × bin) intersection with the bin
    offset, in-bin token count, and the document-side offset — exactly
    what a loader needs to materialize packed examples + attention
    segment ids.

    Scale: packing is sequential BY DEFINITION within a stream, so the
    parallel unit is the shard (doc_id mod ⌈n/4096⌉, floor {_PACK_SHARDS} — footer-sized; production:
    md5-bucket to thousands of shards — each shard is an independent
    stream, embarrassingly parallel). The cumulative offset is a
    window-partitioned running sum (one shuffle on shard), the
    bin fan-out a per-row ``sequence``+``explode`` — no global
    ordering anywhere, which is what makes this shape survive 100 TB
    where a single global cumsum cannot."""
    docs = load(spark, sf_dir, "documents")
    W = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = _PACK_C
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % _pack_shards(spark, sf_dir)).alias("shard"),
        F.size(F.split("text", " ")).alias("n_toks"),
    )
    o = t.select(
        "doc_id",
        "shard",
        "n_toks",
        (F.sum("n_toks").over(W) - F.col("n_toks")).alias("off"),
    )
    b = o.select(
        "doc_id",
        "shard",
        "n_toks",
        "off",
        F.explode(
            F.sequence(
                F.expr(f"off DIV {c}"),
                F.expr(f"(off + n_toks - 1) DIV {c}"),
            )
        ).alias("bin"),
    )
    seg_start = F.greatest(F.col("off"), F.col("bin") * c)
    seg_end = F.least(F.col("off") + F.col("n_toks"), (F.col("bin") + 1) * c)
    return b.select(
        "shard",
        F.col("bin").alias("bin_id"),
        "doc_id",
        (seg_start - F.col("bin") * c).alias("bin_off"),
        (seg_end - seg_start).alias("n_in_bin"),
        (seg_start - F.col("off")).alias("doc_off"),
    )


#: Export sharding: 16 output shards, balanced by token mass.
_SHARD_N = 16


@query(
    "data_shard_balance",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source,
                   len(string_split(text, ' ')) AS n_toks
            FROM documents
        ),
        r AS (
            SELECT doc_id, source, n_toks,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY n_toks DESC, doc_id) AS rk
            FROM t
        ),
        a AS (
            SELECT doc_id, n_toks,
                   CAST((rk - 1 + ('0x' || substr(md5(source), 1, 8))::BIGINT)
                        % {_SHARD_N} AS BIGINT) AS shard
            FROM r
        ),
        s AS (
            SELECT shard, COUNT(*) AS n_docs,
                   CAST(SUM(n_toks) AS BIGINT) AS n_tokens
            FROM a GROUP BY shard
        ),
        g AS (SELECT MAX(n_tokens) AS mx, MIN(n_tokens) AS mn,
                     SUM(n_tokens) AS tot FROM s)
        SELECT s.shard, s.n_docs, s.n_tokens,
               ROUND(s.n_tokens * 1.0 * {_SHARD_N} / g.tot, 6) AS load_factor,
               ROUND(g.mx * 1.0 / g.mn, 6) AS imbalance
        FROM s, g
    """,
)
def data_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced export sharding — the training-data WRITE step:
    assign every document to one of {_SHARD_N} output shards so shard
    token masses stay even (uneven shards mean uneven data-loader
    steps and stragglers at epoch boundaries). Longest-processing-time
    scheduling is inherently sequential, so the scalable surrogate is
    sorted round-robin WITHIN each source (rank docs by token count
    descending, deal them out mod {_SHARD_N} with an md5 per-source
    offset so all sources don't start dealing at shard 0) — a
    partitioned window, never a global one. Output is the per-shard
    census with each shard's load factor (1.0 = perfectly even) and
    the global max/min imbalance ratio as audited columns.

    Scale: one window shuffle on source + one shard aggregate; the
    {_SHARD_N}-row census crossJoins its own 1-row max/min aggregate
    (bounded-BNLJ class). Balance quality is the POINT of the audit:
    sorted round-robin bounds any shard's excess by one max-length
    document per source."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_toks")
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.col("n_toks").desc(), F.col("doc_id")
        )
    )
    src_off = F.conv(F.substring(F.md5("source"), 1, 8), 16, 10).cast("long")
    a = t.select(
        "doc_id",
        "n_toks",
        ((rk - 1 + src_off) % _SHARD_N).cast("long").alias("shard"),
    )
    s = a.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
    )
    g = s.agg(
        F.max("n_tokens").alias("mx"),
        F.min("n_tokens").alias("mn"),
        F.sum("n_tokens").alias("tot"),
    )
    return s.crossJoin(F.broadcast(g)).select(
        "shard",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") * 1.0 * _SHARD_N / F.col("tot"), 6).alias(
            "load_factor"
        ),
        F.round(F.col("mx") * 1.0 / F.col("mn"), 6).alias("imbalance"),
    )


@query(
    "udtf_run_length",
    oracle="""
        WITH toks AS (
            SELECT doc_id, w[pos] AS tok, pos
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents WHERE doc_id < 200),
                 UNNEST(range(1, len(w) + 1)) AS t(pos)
        ),
        marked AS (
            SELECT doc_id, tok, pos,
                   CASE WHEN tok IS DISTINCT FROM
                             LAG(tok) OVER (PARTITION BY doc_id
                                            ORDER BY pos)
                        THEN 1 ELSE 0 END AS is_start
            FROM toks
        ),
        runs AS (
            SELECT doc_id, tok, pos,
                   SUM(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS run_idx
            FROM marked
        )
        SELECT doc_id, CAST(run_idx AS BIGINT) AS run_idx,
               MIN(tok) AS token,
               CAST(COUNT(*) AS BIGINT) AS run_len,
               CAST(MIN(pos) AS BIGINT) AS start_pos
        FROM runs GROUP BY doc_id, run_idx
    """,
)
def udtf_run_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4's user-defined TABLE function —
    the §2.11 row the UDAF/mapInPandas showcases don't cover): a
    run-length encoder collapsing consecutive repeated tokens, the
    primitive behind Gopher-style repetition filters ('batch batch
    batch' → one run of length 3). One input row yields a variable
    number of output rows — the defining UDTF shape, impossible for a
    scalar UDF.

    The oracle replays it declaratively (lag → run-start flags →
    partitioned cumsum → per-run rollup), which is also the plan to
    PREFER at scale: the UDTF exists to certify the API surface, and
    like every Python-boundary op here it is gated to a bounded slice
    (doc_id < 200) rather than the corpus hot path. Arrow-batched
    (``useArrow``) so rows cross the boundary in columnar batches."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "doc_id bigint, run_idx bigint, token string, "
            "run_len bigint, start_pos bigint"
        ),
        useArrow=True,
    )
    class RunLength:
        def eval(self, doc_id: int, text: str):
            toks = text.split(" ")
            run_idx, start = 0, 0
            for i in range(1, len(toks) + 1):
                if i == len(toks) or toks[i] != toks[start]:
                    run_idx += 1
                    yield (doc_id, run_idx, toks[start], i - start, start + 1)
                    start = i

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    runs = RunLength(F.col("doc_id").outer(), F.col("text").outer())
    return docs.lateralJoin(runs.alias("u")).select("u.*")


#: k-means|| geometry: k=8 centers, 3 oversampling rounds, l=16.
_KPP_K, _KPP_ROUNDS, _KPP_L = 8, 3, 16


def _kpp_ctes() -> str:
    """DuckDB CTE chain replaying ``C.kmeans_parallel_init`` round for
    round: md5-coin selection against the exact-integer potential,
    cumulative candidate relation, weighted top-k, φ audits."""
    d2 = (
        "ROUND(list_sum(list_transform(range(1, 65), "
        "i -> (v.vec[i] - c.vec[i]) * (v.vec[i] - c.vec[i]))), 6)"
    )
    parts = [
        """v AS MATERIALIZED (SELECT vec_id AS id,
                CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)""",
        "c0 AS (SELECT id, vec, 0 AS rnd FROM v WHERE id = 0)",
    ]
    for r in range(1, _KPP_ROUNDS + 1):
        p = r - 1
        parts += [
            f"""d{r} AS MATERIALIZED (
                SELECT v.id, CAST(ROUND(MIN({d2}) * 1000000) AS BIGINT) AS d2q
                FROM v, c{p} c GROUP BY v.id)""",
            f"p{r} AS (SELECT SUM(d2q) AS phi FROM d{r})",
            f"""s{r} AS (
                SELECT d.id FROM d{r} d, p{r}
                WHERE (('0x' || substr(md5('kpp:{r}:' ||
                            CAST(d.id AS VARCHAR)), 1, 8))::BIGINT
                       / 4294967296.0)
                      < {_KPP_L} * CAST(d.d2q AS DOUBLE)
                        / CAST(p{r}.phi AS DOUBLE)
                  AND d.id NOT IN (SELECT id FROM c{p}))""",
            f"""c{r} AS (SELECT id, vec, rnd FROM c{p}
                UNION ALL
                SELECT v.id, v.vec, {r} AS rnd
                FROM v JOIN s{r} USING (id))""",
        ]
    last = f"c{_KPP_ROUNDS}"
    parts += [
        f"""near AS (
            SELECT id, center_id FROM (
                SELECT v.id, c.id AS center_id,
                       ROW_NUMBER() OVER (PARTITION BY v.id
                                          ORDER BY {d2}, c.rnd, c.id) AS rn
                FROM v, {last} c) WHERE rn = 1)""",
        """w AS (SELECT center_id, COUNT(*) AS weight
             FROM near GROUP BY center_id)""",
        f"""ranked AS (
            SELECT c.id AS center_id, CAST(c.rnd AS BIGINT) AS round_added,
                   CAST(COALESCE(w.weight, 0) AS BIGINT) AS weight,
                   ROW_NUMBER() OVER (ORDER BY COALESCE(w.weight, 0) DESC,
                                      c.id) AS rk
            FROM {last} c LEFT JOIN w ON w.center_id = c.id)""",
        f"""chosen AS (SELECT center_id FROM ranked WHERE rk <= {_KPP_K})""",
        f"""phik AS (
            SELECT SUM(mq) AS phi FROM (
                SELECT v.id, CAST(ROUND(MIN({d2}) * 1000000) AS BIGINT) AS mq
                FROM v, (SELECT c.id, c.vec FROM {last} c
                         JOIN chosen ON chosen.center_id = c.id) c
                GROUP BY v.id))""",
        f"""phin AS (
            SELECT SUM(mq) AS phi FROM (
                SELECT v.id, CAST(ROUND(MIN({d2}) * 1000000) AS BIGINT) AS mq
                FROM v, (SELECT id, vec FROM v WHERE id < {_KPP_K}) c
                GROUP BY v.id))""",
        f"""aud AS (SELECT (SELECT COUNT(*) FROM {last}) AS n_candidates,
                    ROUND(CAST(phin.phi AS DOUBLE)
                          / CAST(phik.phi AS DOUBLE), 6) AS phi_ratio_naive
             FROM phin, phik)""",
    ]
    return "WITH " + ",\n".join(parts)


@query(
    "corpus_kmeanspp_init",
    oracle=f"""
        {_kpp_ctes()}
        SELECT r.center_id, r.round_added, r.weight, CAST(r.rk AS BIGINT) AS rk,
               CAST(aud.n_candidates AS BIGINT) AS n_candidates,
               aud.phi_ratio_naive
        FROM ranked r, aud WHERE r.rk <= {_KPP_K}
    """,
)
def corpus_kmeanspp_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means|| initialization (Bahmani et al., VLDB'12) over the
    embedding corpus — upgrading the Lloyd family's documented id<k
    init stand-in with the algorithm actually used at scale. Each
    oversampling round selects ~{_KPP_L} points with probability
    l·d²(x,C)/φ (md5-deterministic coins, exact-integer φ), candidates
    are weighted by points served, and the top {_KPP_K} become the
    init. The ``phi_ratio_naive`` audit column is the measured payoff:
    φ(id<k init) / φ(k-means|| init) — how much lower the starting
    potential is than the naive seed's.

    Scale: per round one broadcast-literal distance scan + one exact
    integer aggregate + a ~l-row collect; candidate count is
    1 + rounds·l independent of corpus size; the rank window runs over
    that bounded candidate relation, never the corpus. See
    ``C.kmeans_parallel_init`` for the full determinism contract."""
    emb = load(spark, sf_dir, "embeddings")
    v = C.kmeans_parallel_init(
        spark,
        C._vectors(emb, "vec_id", "embedding"),
        k=_KPP_K,
        rounds=_KPP_ROUNDS,
        l=_KPP_L,
    )
    # carry v's cache through to the consumer's collect: the deferred
    # φ-audit branch (r8c job merge) re-reads the vector cache at
    # action time, after this function has already returned
    return carry_caches(
        v.select(
            "center_id",
            F.col("round_added").cast("bigint").alias("round_added"),
            "weight",
            F.col("rk").cast("bigint").alias("rk"),
            "n_candidates",
            "phi_ratio_naive",
        ),
        v,
    )


@query(
    "dedup_fuzzy_typenames",
    oracle="""
        WITH names AS (
            SELECT p_name AS name,
                   string_split(p_name, ' ')[-1] AS noun,
                   CAST(COUNT(*) AS BIGINT) AS n_parts
            FROM part GROUP BY p_name
        )
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev,
               a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        FROM names a JOIN names b
          ON a.noun = b.noun AND a.name < b.name
        WHERE abs(length(a.name) - length(b.name)) <= 3
          AND levenshtein(a.name, b.name) BETWEEN 1 AND 3
    """,
)
def dedup_fuzzy_typenames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage on NAME TYPES — the edit-distance
    complement to the shingle/MinHash family (typo-level near-dups
    that token-set similarity misses entirely): block candidate pairs
    by the head noun, band by length (|Δlen| ≤ 3 — any lev ≤ 3 pair
    satisfies it, so the band is lossless), verify with exact
    Levenshtein 1..3.

    Scale is the point of the TYPE-level formulation (the BPE
    word-type trick): distinct names are vocabulary-bounded, so the
    blocked self-join runs over a relation orders of magnitude
    smaller than the part table no matter how many rows carry each
    name — the per-name part counts ride along for the record-level
    rollup. The noun block + length band bound each verify bucket;
    nothing is all-pairs on the data plane."""
    p = load(spark, sf_dir, "part")
    names = p.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    ).withColumn("noun", F.element_at(F.split("name", " "), -1))
    return (
        blocked_pairs(names, ["noun"], "name")
        .where(
            (
                F.abs(F.length(F.col("a.name")) - F.length(F.col("b.name")))
                <= 3
            )
            & F.levenshtein(F.col("a.name"), F.col("b.name")).between(1, 3)
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name"))
            .cast("bigint")
            .alias("lev"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
    )


#: DuckDB twin of ``_typo_name_sources``.
_TYPO_NAME_SOURCES_SQL = """names AS (SELECT DISTINCT p_name AS name FROM part),
        pos AS (
            SELECT name,
                   2 + (('0x' || substr(md5(name), 1, 8))::BIGINT
                        % (length(name) - 2)) AS p
            FROM names
        ),
        u AS (
            SELECT name, name AS orig, 'a' AS src FROM names
            UNION ALL
            SELECT substr(name, 1, CAST(p - 1 AS INT))
                   || substr(name, CAST(p + 1 AS INT), 1000000) AS name,
                   name AS orig, 'b' AS src
            FROM pos
        )"""


def _typo_name_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-typo linkage corpus (name, orig, src): source 'a' is
    the distinct part-name vocabulary, source 'b' the same names each
    with one md5-chosen character deleted; ``orig`` is the ground-truth
    match key."""
    names = (
        load(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    pos = names.withColumn(
        "p",
        F.conv(F.substring(F.md5("name"), 1, 8), 16, 10).cast("long")
        % (F.length("name") - F.lit(2))
        + F.lit(2),
    )
    corrupted = pos.select(
        F.concat(
            F.expr("substring(name, 1, CAST(p - 1 AS INT))"),
            F.expr("substring(name, CAST(p + 1 AS INT), 1000000)"),
        ).alias("name"),
        F.col("name").alias("orig"),
        F.lit("b").alias("src"),
    )
    return names.select(
        "name", F.col("name").alias("orig"), F.lit("a").alias("src")
    ).unionByName(corrupted)


#: Sorted-neighborhood window sizes audited (max drives the band join).
_SN_WINDOWS = (2, 8, 32)


@query(
    "linkage_sorted_neighborhood",
    oracle=f"""
        WITH {_TYPO_NAME_SOURCES_SQL},
        r AS (
            SELECT *, row_number() OVER (ORDER BY name, src, orig) AS rk
            FROM u
        ),
        pr AS (
            SELECT x.src AS a_src, x.orig AS a_orig,
                   y.src AS b_src, y.orig AS b_orig,
                   y.rk - x.rk AS gap
            FROM r x JOIN r y ON y.rk - x.rk BETWEEN 1 AND {max(_SN_WINDOWS)}
        ),
        tot AS (SELECT COUNT(*) AS n FROM names)
        SELECT w.w AS w,
               CAST(COUNT(*) FILTER (WHERE gap <= w.w) AS BIGINT)
                   AS n_candidates,
               CAST(COUNT(*) FILTER (WHERE gap <= w.w AND a_src <> b_src)
                   AS BIGINT) AS n_cross_source,
               CAST(COUNT(*) FILTER (WHERE gap <= w.w AND a_src <> b_src
                                       AND a_orig = b_orig) AS BIGINT)
                   AS n_matched,
               ROUND(100.0 * COUNT(*) FILTER (WHERE gap <= w.w
                         AND a_src <> b_src AND a_orig = b_orig)
                     / ANY_VALUE(tot.n), 2) + 0.0 AS recall_pct
        FROM (VALUES ({_SN_WINDOWS[0]}), ({_SN_WINDOWS[1]}),
                     ({_SN_WINDOWS[2]})) w(w)
        CROSS JOIN pr, tot
        GROUP BY w.w
    """,
)
def linkage_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernandez-Stolfo
    merge/purge) with MEASURED blocking recall: source A = the
    distinct part-name vocabulary, source B = the same names each
    deterministically corrupted by one md5-chosen character deletion
    (the classic data-entry typo), both sources sorted together on the
    (corrupted) name, and candidate pairs drawn only from a sliding
    rank window.  For each window size w in {_SN_WINDOWS} the audit
    reports candidate volume (the O(n*w) cost) against cross-source
    matches recovered (``a_orig = b_orig`` — the planted ground
    truth), so the recall-vs-cost frontier of sort-order blocking is a
    hash-verified output, not a docstring claim: early-position
    deletions move a record far from its original in sort order, which
    is exactly the known failure mode of the method (vs the attribute
    blocking of ``dedup_fuzzy_typenames``, which is immune to prefix
    damage but exposed to block-size skew).

    Scale: the global sort rank is the two-pass distributed ranking of
    ``linkage.global_rank`` (range partition -> partition-parallel
    row_number -> #partitions-row driver prefix-sum -> broadcast
    offset join — no single-partition window anywhere), and the rank
    band join is bucketized into an equi join
    (``linkage.sorted_neighborhood_pairs``) so candidate generation is
    a shuffled hash join producing O(n*w) pairs regardless of name
    skew.  The TYPE-level formulation (distinct names, the BPE
    vocabulary trick) bounds everything by vocabulary size, not corpus
    rows."""
    from spark_query_engine.operators import linkage as L

    u = _typo_name_sources(spark, sf_dir)
    # lazy persist (r9, the entity_resolution lesson): the n_names
    # count below populates the cache in the same job, and the band
    # self-join's two branches + final agg reuse it — everything past
    # global_rank's internal checkpoint is deterministic, so no eager
    # materialization job is needed
    ranked = L.global_rank(
        u, ["name", "src", "orig"], rank_col="rk",
        rows_hint=2 * footer_rows(spark, sf_dir, "part"),
    ).persist()
    n_names = ranked.where(F.col("src") == "b").count()
    pairs = L.sorted_neighborhood_pairs(ranked, max(_SN_WINDOWS), rank_col="rk")
    cross = F.col("a_src") != F.col("b_src")
    match = cross & (F.col("a_orig") == F.col("b_orig"))
    gap = F.col("rank_gap")
    aggs = []
    for w in _SN_WINDOWS:
        inw = gap <= F.lit(w)
        aggs += [
            F.coalesce(F.sum(F.when(inw, 1)), F.lit(0))
            .cast("long")
            .alias(f"cand_{w}"),
            F.coalesce(F.sum(F.when(inw & cross, 1)), F.lit(0))
            .cast("long")
            .alias(f"cross_{w}"),
            F.coalesce(F.sum(F.when(inw & match, 1)), F.lit(0))
            .cast("long")
            .alias(f"match_{w}"),
        ]
    wide = pairs.agg(*aggs)
    stack_args = ", ".join(
        f"{w}L, cand_{w}, cross_{w}, match_{w}" for w in _SN_WINDOWS
    )
    result = wide.select(
        F.expr(
            f"stack({len(_SN_WINDOWS)}, {stack_args}) AS "
            "(w, n_candidates, n_cross_source, n_matched)"
        )
    ).select(
        "w",
        "n_candidates",
        "n_cross_source",
        "n_matched",
        F.round(F.lit(100.0) * F.col("n_matched") / F.lit(n_names), 2).alias(
            "recall_pct"
        ),
    )
    return release_on_drop(result, ranked)


#: k-anonymity threshold for the governance audit.
_KANON = 5


@query(
    "data_kanonymity_audit",
    oracle=f"""
        WITH q AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
                   COUNT(*) AS sz
            FROM customer
            GROUP BY 1, 2, 3
        ),
        tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n FROM q)
        SELECT CAST(MIN(q.sz) AS BIGINT) AS k_anonymity,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(CASE WHEN q.sz < {_KANON} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violating_classes,
               CAST(SUM(CASE WHEN q.sz < {_KANON} THEN q.sz ELSE 0 END)
                    AS BIGINT) AS n_rows_at_risk,
               ROUND(SUM(CASE WHEN q.sz < {_KANON} THEN q.sz ELSE 0 END)
                     * 1.0 / tot.n, 6) AS suppression_rate
        FROM q, tot GROUP BY tot.n
    """,
)
def data_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity governance audit over the customer quasi-identifier
    tuple (nation, market segment, account-balance band): the dataset
    is k-anonymous at the MIN equivalence-class size; every class
    under {_KANON} is a re-identification risk and the rows it holds
    are what a release would have to suppress or generalize. The
    privacy complement to ``data_dp_noisy_counts`` (which protects
    aggregates; this audits row-level release) and
    ``text_pii_redact`` (which scrubs direct identifiers; this
    measures the QUASI-identifier risk that survives scrubbing).

    Scale: one hash aggregate over the quasi-identifier tuple, one
    1-row census rollup — two shuffles, output O(1)."""
    c = load(spark, sf_dir, "customer")
    q = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("sz"))
    tot = q.agg(F.sum("sz").cast("bigint").alias("n"))
    return (
        q.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.min("sz").cast("bigint").alias("k_anonymity"),
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum(F.when(F.col("sz") < _KANON, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_classes"),
            F.sum(F.when(F.col("sz") < _KANON, F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias("n_rows_at_risk"),
        )
        .select(
            "k_anonymity",
            "n_classes",
            "n_violating_classes",
            "n_rows_at_risk",
            F.round(F.col("n_rows_at_risk") * 1.0 / F.col("n"), 6).alias(
                "suppression_rate"
            ),
        )
    )


#: DuckDB twin of ``_daily_type_cents`` over an ``ev`` CTE of events.
_DAILY_TYPE_CENTS_SQL = """d AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS vq
            FROM ev GROUP BY 1, 2
        )"""


def _daily_type_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, vq): each event type's daily value total in
    exact integer cents — the series every drift monitor reads."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("vq")
    )


@query(
    "events_cusum_drift",
    oracle=f"""
        WITH ev AS (SELECT event_id,
                           CAST(date_trunc('microseconds', ts) AS TIMESTAMP)
                               AS ts,
                           user_id, event_type, value, props FROM events),
        {_DAILY_TYPE_CENTS_SQL},
        t AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(vq) AS BIGINT) AS s
            FROM d GROUP BY event_type
        ),
        y AS (
            SELECT d.event_type, d.day, d.vq, t.n, t.s,
                   CAST(SUM(d.vq * t.n - t.s) OVER (
                        PARTITION BY d.event_type ORDER BY d.day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS yc
            FROM d JOIN t USING (event_type)
        ),
        c AS (
            SELECT event_type, day, vq, n, s, yc,
                   CAST(LEAST(0, MIN(yc) OVER (
                        PARTITION BY event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS ymin,
                   CAST(GREATEST(0, MAX(yc) OVER (
                        PARTITION BY event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS ymax
            FROM y
        )
        SELECT event_type, day,
               ROUND(vq / 100.0, 2) AS day_total,
               ROUND((yc - ymin) * 1.0 / n / 100.0, 2) AS cusum_pos,
               ROUND((ymax - yc) * 1.0 / n / 100.0, 2) AS cusum_neg,
               (yc - ymin) > 2 * s OR (ymax - yc) > 2 * s AS alarm
        FROM c
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection (Page 1954) over the per-type daily value
    series — the sequential change-point detector behind data-quality
    monitors, expressed WITHOUT its recursion: the textbook
    S⁺_t = max(0, S⁺_{t-1} + dev_t) is non-associative, but the
    prefix-sum identity S⁺_t = y_t − min(0, min_{τ≤t} y_τ) (with
    y = cumulative deviation) turns it into two PARTITIONED window
    scans — a cumsum and a running min — so the detector
    distributes; S⁻ symmetrically via the running max. Alarm = the
    one-sided cumulative excess worth two average days of mass
    (excess > 2·Σx/n in original units — a scale-free threshold,
    compared in exact n-scaled integers). On this synthetic corpus
    the series are stationary, so zero alarms is the expected
    readout — the hash-verified signal is the cusum columns
    themselves (and the identity is property-tested against the
    sequential max(0, ·) recursion).

    Float discipline: values 1e2-quantize per ROW to BIGINTs and
    every sum/cumsum/min is exact integer arithmetic; deviations
    stay integral by working n-scaled (dev_t = n·x_t − Σx, avoiding
    the mean's division) — both engines derive the 2dp outputs once
    from identical integers. Scale: two shuffles (the day rollup,
    the per-type window partition); series per partition = days,
    bounded."""
    d = _daily_type_cents(spark, sf_dir)
    t = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vq").cast("bigint").alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    y = d.join(F.broadcast(t), "event_type").withColumn(
        "yc",
        F.sum(F.col("vq") * F.col("n") - F.col("s")).over(w).cast("bigint"),
    )
    c = y.withColumn(
        "ymin", F.least(F.lit(0).cast("bigint"), F.min("yc").over(w))
    ).withColumn(
        "ymax", F.greatest(F.lit(0).cast("bigint"), F.max("yc").over(w))
    )
    return c.select(
        "event_type",
        "day",
        F.round(F.col("vq") / 100.0, 2).alias("day_total"),
        F.round((F.col("yc") - F.col("ymin")) * 1.0 / F.col("n") / 100.0, 2)
        .alias("cusum_pos"),
        F.round((F.col("ymax") - F.col("yc")) * 1.0 / F.col("n") / 100.0, 2)
        .alias("cusum_neg"),
        (
            ((F.col("yc") - F.col("ymin")) > 2 * F.col("s"))
            | ((F.col("ymax") - F.col("yc")) > 2 * F.col("s"))
        ).alias("alarm"),
    )


@query(
    "events_trend_slope",
    oracle=f"""
        WITH ev AS (SELECT CAST(date_trunc('microseconds', ts) AS TIMESTAMP)
                               AS ts,
                           event_type, value FROM events),
        {_DAILY_TYPE_CENTS_SQL},
        x AS (
            SELECT event_type, vq,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY day) - 1 AS BIGINT) AS xi
            FROM d
        ),
        m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(xi) AS BIGINT) AS sx,
                   CAST(SUM(vq) AS BIGINT) AS sy,
                   CAST(SUM(xi * vq) AS BIGINT) AS sxy,
                   CAST(SUM(xi * xi) AS BIGINT) AS sxx,
                   CAST(SUM(vq * vq) AS BIGINT) AS syy
            FROM x GROUP BY event_type
        ),
        sl AS (
            SELECT event_type, n, sx, sy, sxy, sxx, syy,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) AS b
            FROM m
        )
        SELECT event_type, n AS n_days,
               ROUND(b / 100.0, 4) AS slope_per_day,
               ROUND((CAST(sy AS DOUBLE) / n - b * CAST(sx AS DOUBLE) / n)
                     / 100.0, 4) AS intercept,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     * CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
                     / CAST(n * syy - sy * sy AS DOUBLE), 6) AS r2
        FROM sl
    """,
)
def events_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of the daily value series — the slow-
    drift complement to ``events_cusum_drift`` (CUSUM fires on step
    changes; OLS slope measures gradual ones): least-squares slope,
    intercept, and R² computed from EXACT integer moments (n, Σx, Σy,
    Σxy, Σx², Σy² over 1e2-quantized day totals and 0-based day
    indexes — the events_burstiness discipline extended to
    regression), so both engines derive every float once from
    identical integers; no regr_slope built-in whose internal
    accumulation order could differ.

    Scale: the day rollup shuffle + a per-type moment aggregate; the
    window assigning day indexes partitions by type. Slope is in
    original value units per day."""
    d = _daily_type_cents(spark, sf_dir)
    x = d.select(
        "event_type",
        "vq",
        (
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            )
            - 1
        )
        .cast("bigint")
        .alias("xi"),
    )
    m = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xi").cast("bigint").alias("sx"),
        F.sum("vq").cast("bigint").alias("sy"),
        F.sum(F.col("xi").cast("decimal(38,0)") * F.col("vq")).cast("bigint").alias("sxy"),
        F.sum(F.col("xi").cast("decimal(38,0)") * F.col("xi")).cast("bigint").alias("sxx"),
        F.sum(F.col("vq").cast("decimal(38,0)") * F.col("vq")).cast("bigint").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    b = (num / den).alias("b")
    sl = m.select("event_type", "n", "sx", "sy", "sxy", "sxx", "syy", b)
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return sl.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(F.col("b") / 100.0, 4).alias("slope_per_day"),
        F.round(
            (
                F.col("sy").cast("double") / F.col("n")
                - F.col("b") * F.col("sx").cast("double") / F.col("n")
            )
            / 100.0,
            4,
        ).alias("intercept"),
        F.round(num * num / den / deny, 6).alias("r2"),
    )


#: l-diversity threshold for the governance audit.
_LDIV = 3


@query(
    "data_ldiversity_audit",
    oracle=f"""
        WITH q AS (
            SELECT c_nationkey, c_mktsegment,
                   COUNT(*) AS sz,
                   COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
                       AS l
            FROM customer
            GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n FROM q)
        SELECT CAST(MIN(q.l) AS BIGINT) AS l_diversity,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(CASE WHEN q.l < {_LDIV} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_classes,
               CAST(SUM(CASE WHEN q.l < {_LDIV} THEN q.sz ELSE 0 END)
                    AS BIGINT) AS n_rows_at_risk,
               ROUND(SUM(CASE WHEN q.l < {_LDIV} THEN q.sz ELSE 0 END)
                     * 1.0 / tot.n, 6) AS at_risk_rate
        FROM q, tot GROUP BY tot.n
    """,
)
def data_ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attribute-disclosure complement to
    ``data_kanonymity_audit``: a class can be k-anonymous yet leak
    its SENSITIVE attribute if every member shares one value
    (homogeneity attack). Here the quasi-identifier is (nation,
    segment) and the sensitive attribute the account-balance band;
    a class with fewer than {_LDIV} distinct bands tells an attacker
    the member's balance range without re-identification. Output:
    the dataset's l (min distinct sensitive values per class),
    violating classes, and the at-risk row share.

    Scale: one aggregate with a distinct-count over the class key —
    Spark plans the count-distinct as a two-phase expand/agg, all
    shuffles on the class key; 1-row output."""
    c = load(spark, sf_dir, "customer")
    q = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
        ).alias("l"),
    )
    tot = q.agg(F.sum("sz").cast("bigint").alias("n"))
    return (
        q.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.min("l").cast("bigint").alias("l_diversity"),
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum(F.when(F.col("l") < _LDIV, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_classes"),
            F.sum(F.when(F.col("l") < _LDIV, F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias("n_rows_at_risk"),
        )
        .select(
            "l_diversity",
            "n_classes",
            "n_violating_classes",
            "n_rows_at_risk",
            F.round(F.col("n_rows_at_risk") * 1.0 / F.col("n"), 6).alias(
                "at_risk_rate"
            ),
        )
    )


@query(
    "corpus_pack_utilization",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, doc_id % {_PACK_SHARDS_EXPR} AS shard,
                   len(string_split(text, ' ')) AS n_toks
            FROM documents
        ),
        s AS (
            SELECT shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_toks) AS BIGINT) AS n_tokens
            FROM t GROUP BY shard
        )
        SELECT shard, n_docs, n_tokens,
               CAST((n_tokens + {_PACK_C} - 1) // {_PACK_C} AS BIGINT)
                   AS n_bins,
               CAST((n_tokens + {_PACK_C} - 1) // {_PACK_C} * {_PACK_C}
                    - n_tokens AS BIGINT) AS pad_tokens,
               ROUND(n_tokens * 1.0
                     / ((n_tokens + {_PACK_C} - 1) // {_PACK_C}
                        * {_PACK_C}), 6) AS utilization
        FROM s
    """,
)
def corpus_pack_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit for ``corpus_pack_sequences``: because
    concat-and-split wastes tokens ONLY in each shard's final partial
    window, utilization is n_tokens / (n_bins·{_PACK_C}) — derived in
    closed form from the per-shard token census, no packing run
    needed. This is the number that justifies packing over per-doc
    padding (where every document pads to the window): utilization
    here approaches 1 as shards grow, while padded loading wastes
    (1 − avg_len/context) of every batch.

    Scale: one aggregate, ⌈n/4096⌉ (floor {_PACK_SHARDS}) output rows; pure
    integer arithmetic."""
    docs = load(spark, sf_dir, "documents")
    c = _PACK_C
    s = docs.groupBy(
        (F.col("doc_id") % _pack_shards(spark, sf_dir)).alias("shard")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    bins = F.expr(f"(n_tokens + {c - 1}) DIV {c}")
    return s.select(
        "shard",
        "n_docs",
        "n_tokens",
        bins.cast("bigint").alias("n_bins"),
        (bins * c - F.col("n_tokens")).cast("bigint").alias("pad_tokens"),
        F.round(F.col("n_tokens") * 1.0 / (bins * c), 6).alias("utilization"),
    )


def _ndcg_oracle() -> str:
    return f"""
        {_lsh_eval_oracle_ctes()}
        approx AS (SELECT qid, id, rn FROM (
            SELECT qid, id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY ROUND(list_cosine_similarity(
                                    vec, qvec), 6) DESC, id) AS rn
            FROM (SELECT q.qid, c.id, c.vec, q.qvec
                  FROM corpus c JOIN q ON c.bucket = q.qbucket))
            WHERE rn <= {_BATCH_K}),
        rel AS (SELECT a.qid, a.rn FROM approx a JOIN truth t
                USING (qid, id)),
        gains AS (SELECT qid,
                         CAST(COUNT(*) AS BIGINT) AS n_hits,
                         SUM(1.0 / log2(rn + 1)) AS dcg,
                         1.0 / MIN(rn) AS mrr
                  FROM rel GROUP BY qid),
        idcg AS (SELECT SUM(1.0 / log2(r + 1)) AS v
                 FROM (SELECT unnest(range(1, {_BATCH_K} + 1)) AS r))
        SELECT q.qid,
               COALESCE(g.n_hits, 0) AS n_hits,
               ROUND(COALESCE(g.dcg, 0.0) / idcg.v, 6) AS ndcg_at_k,
               ROUND(COALESCE(g.mrr, 0.0), 6) AS mrr
        FROM q LEFT JOIN gains g USING (qid), idcg
    """


@query("ann_ndcg_eval", oracle=_ndcg_oracle())
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-quality audit for the LSH probe — recall@k says WHETHER
    the true neighbors surface, NDCG@k and MRR say WHERE: position-
    discounted gain (1/log2(rank+1)) of each true-top-{_BATCH_K}
    member in the probe's ranking, normalized by the ideal ordering,
    and the reciprocal rank of the first relevant hit. The pair
    completes the IR-metric set next to ``ann_recall_eval`` on the
    same probe, so index tuning sees ordering degradation, not just
    set membership.

    Float discipline: every gain term is 1/log2(small integer) — the
    bounded-term class (≤{_BATCH_K} terms per query, alphabet-bounded
    sums justification) — and the rank integers themselves are exact.
    Plan shape identical to ann_recall_eval: broadcast query batch,
    bucket equi-join probe, per-query rank windows."""
    qbatch, _cand, approx, truth = _lsh_probe_eval(spark, sf_dir)
    rel = approx.join(truth, ["qid", "id"])
    gains = rel.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.sum(F.lit(1.0) / F.log2(F.col("rn") + 1)).alias("dcg"),
        (F.lit(1.0) / F.min("rn")).alias("mrr"),
    )
    import math

    idcg = sum(1.0 / math.log2(r + 1) for r in range(1, _BATCH_K + 1))
    return (
        qbatch.select("qid")
        .join(gains, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0).cast("bigint")).alias("n_hits"),
            F.round(
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.lit(idcg), 6
            ).alias("ndcg_at_k"),
            F.round(F.coalesce(F.col("mrr"), F.lit(0.0)), 6).alias("mrr"),
        )
    )


#: Dedup-cascade thresholds: lexical near-dup Jaccard, semantic cosine.
_CASC_J, _CASC_COS = 0.6, 0.9

#: Stage-3 blocking: k-means clusters with k ∝ n (target cluster size
#: 64), one Lloyd round — the ``corpus_semdedup`` discipline. A fixed
#: block count (the pre-r6 10-value label column) is O(n²/10) at 100×;
#: k = ⌈n/64⌉ keeps per-cluster pair work ~64·n = linear.
_CASC_KM_ITERS = 1
_CASC_K_EXPR = "(SELECT GREATEST(8, (COUNT(*) + 63) // 64) FROM embeddings)"


def _casc_k(n: int) -> int:
    return max(8, (n + 63) // 64)


@query(
    "pipeline_dedup_cascade",
    oracle=f"""
        {_kmeans_ctes(k=_CASC_K_EXPR, iters=_CASC_KM_ITERS, prefix="km_")},
        norm AS (
            SELECT doc_id, text,
                   md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))
                       AS fp
            FROM documents
        ),
        k1 AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY fp),
        s1 AS (SELECT n.doc_id, n.text FROM norm n JOIN k1 USING (doc_id)),
        words AS (SELECT doc_id, string_split(text, ' ') AS w FROM s1),
        sh AS (
            SELECT DISTINCT doc_id,
                   concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
            FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 3
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        {_SHINGLE_INTER},
        d2 AS (
            SELECT DISTINCT id_b AS doc_id {_INTER_SIZES}
            WHERE ROUND(n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter), 6)
                  >= {_CASC_J}
        ),
        s2 AS (SELECT doc_id FROM s1
               WHERE doc_id NOT IN (SELECT doc_id FROM d2)),
        s2e AS (SELECT s2.doc_id, f.vec, f.centroid
                FROM s2 JOIN km_a_final f ON f.id = s2.doc_id),
        d3 AS (
            SELECT DISTINCT b.doc_id
            FROM s2e a JOIN s2e b
              ON a.centroid = b.centroid AND a.doc_id < b.doc_id
            WHERE ROUND(list_cosine_similarity(a.vec, b.vec), 6)
                  >= {_CASC_COS}
        ),
        s3 AS (SELECT doc_id FROM s2
               WHERE doc_id NOT IN (SELECT doc_id FROM d3)),
        c AS MATERIALIZED (SELECT (SELECT COUNT(*) FROM documents) AS n0,
                     (SELECT COUNT(*) FROM s1) AS n1,
                     (SELECT COUNT(*) FROM s2) AS n2,
                     (SELECT COUNT(*) FROM s3) AS n3)
        SELECT 1 AS stage, 'exact' AS stage_name,
               CAST(n0 AS BIGINT) AS n_in, CAST(n1 AS BIGINT) AS n_out,
               CAST(n0 - n1 AS BIGINT) AS n_dropped FROM c
        UNION ALL
        SELECT 2, 'minhash_jaccard', CAST(n1 AS BIGINT),
               CAST(n2 AS BIGINT), CAST(n1 - n2 AS BIGINT) FROM c
        UNION ALL
        SELECT 3, 'semantic_cosine', CAST(n2 AS BIGINT),
               CAST(n3 AS BIGINT), CAST(n2 - n3 AS BIGINT) FROM c
    """,
)
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE in one query — cheap stages first,
    each stage seeing only the previous stage's survivors: (1) exact
    dedup on the whitespace-normalized md5 fingerprint, (2) MinHash-
    LSH lexical near-dup (exact-Jaccard verify ≥ {_CASC_J}, drop the
    higher id of each pair), (3) semantic near-dup over the linked
    embeddings — exact cosine ≥ {_CASC_COS} blocked on K-MEANS
    CLUSTERS with k ∝ n (⌈n/64⌉, one Lloyd round): the
    ``corpus_semdedup`` discipline, so per-cluster pair work stays
    ~64·n as the corpus grows where a fixed block count would go
    quadratic. Output: the per-stage attrition census — the funnel
    report every dedup pipeline publishes.

    Stage ordering is the cost argument: exact is one hash aggregate
    and removes the mass duplicates; MinHash's banded equi-join then
    runs on fewer docs; the O(n²/blocks) semantic verify sees only
    what survives both. Each stage's drop rule (any surviving smaller
    near-twin kills you) is deterministic and engine-mirrored. Keep
    rule caveat vs ``corpus_dedup_keep_best``: pairwise drop, not
    transitive-component collapse — documented difference, same on
    both engines."""
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), " +", " "))))
    norm = docs.select("doc_id", "text", fp.alias("fp"))
    k1 = norm.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    # persist each stage's survivor set: s1 feeds the MinHash stage,
    # the anti-join, AND its census count; s2 feeds the semantic
    # stage, the anti-join, and its count — without the barriers every
    # census count re-runs the whole upstream cascade (measured 15.5 s
    # -> 9.0 s at sf0.1). Cache lifetime = caller clearCache (the
    # cp_keys contract).
    s1 = (
        norm.join(k1.select("doc_id"), "doc_id")
        .select("doc_id", "text")
        .persist()
    )
    pairs2 = D.minhash_near_duplicates(
        s1, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        threshold=_CASC_J,
    )
    d2 = pairs2.select(F.col("id_b").alias("doc_id")).distinct()
    s2 = s1.join(d2, "doc_id", "left_anti").select("doc_id").persist()
    # Stage-3 blocking key: k-means clusters over the embedding corpus
    # with k ∝ n (target cluster size 64, one Lloyd round) — the
    # corpus_semdedup discipline. Fit state is k·dim floats on the
    # driver (model, not data); the pair join below is then a
    # centroid-keyed equi-join whose work stays ~64·n at any scale,
    # where the pre-r6 fixed-10-label blocking was O(n²/10).
    e = load(spark, sf_dir, "embeddings")
    # footer metadata, not a count job (the shared footer_rows
    # pattern — at corpus scale this count was a full scan)
    n3 = footer_rows(spark, sf_dir, "embeddings")
    assigned = C.kmeans_assign(
        spark, e, "vec_id", "embedding", k=_casc_k(n3),
        iters=_CASC_KM_ITERS, n_hint=n3,
    )
    # persist the assigned survivor relation: it feeds BOTH sides of
    # the d3 self-join — without the barrier each side re-runs the
    # whole assignment scan (and its parquet read).
    s2e = s2.join(
        assigned.select(
            F.col("id").alias("doc_id"), "vec", "centroid"
        ),
        "doc_id",
    ).persist()
    d3 = (
        blocked_pairs(s2e, ["centroid"], "doc_id")
        .where(
            F.expr(f"round({cosine('a.vec', 'b.vec')}, 6)") >= _CASC_COS
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(d3, "doc_id", "left_anti")
    n0 = docs.agg(F.count(F.lit(1)).alias("n0"))
    n1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    n3 = s3.agg(F.count(F.lit(1)).alias("n3"))
    # the 1-row census feeds THREE union branches; without a barrier
    # each branch re-evaluates the whole cascade (incl. the d3 pair
    # join). r11: LAZY localCheckpoint instead of persist — same
    # single evaluation, but the checkpoint also TRUNCATES the plan to
    # a leaf, so Catalyst analyzes the ~1800-node cascade lineage once
    # instead of once per union branch (the corpus_domain_mixture
    # lineage-truncation pattern, d1245f6).
    c = cut_lineage(
        n0.crossJoin(n1).crossJoin(n2).crossJoin(n3), eager=False
    )
    rows = [
        (1, "exact", "n0", "n1"),
        (2, "minhash_jaccard", "n1", "n2"),
        (3, "semantic_cosine", "n2", "n3"),
    ]
    parts = [
        c.select(
            F.lit(st).alias("stage"),
            F.lit(nm).alias("stage_name"),
            F.col(i).cast("bigint").alias("n_in"),
            F.col(o).cast("bigint").alias("n_out"),
            (F.col(i) - F.col(o)).cast("bigint").alias("n_dropped"),
        )
        for st, nm, i, o in rows
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # hold the minhash pair relation and the k-means assignment alive
    # until the caller drops the census — their operator-internal
    # caches back this lazy plan (see operators.carry_caches); the
    # query-local persisted stages (s1/s2/s2e/c) release when the
    # caller drops the census — same lifecycle the operators got in
    # round 6 (ADVICE r6: these stayed resident until clearCache)
    return carry_caches(
        release_on_drop(out, s1, s2, s2e, c), pairs2, assigned
    )


@query(
    "corpus_preference_pairs",
    oracle="""
        WITH t AS (
            SELECT doc_id, source, lang,
                   string_split(text, ' ') AS toks
            FROM documents
        ),
        r AS (
            SELECT doc_id, source, lang,
                   CAST(len(list_distinct(toks)) AS BIGINT) * 1000000
                       + CAST(len(toks) AS BIGINT) AS reward
            FROM t
        ),
        best AS (
            SELECT source, lang, doc_id AS chosen_id, reward AS r_chosen
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source, lang
                       ORDER BY reward DESC, doc_id) AS rn FROM r)
            WHERE rn = 1
        ),
        worst AS (
            SELECT source, lang, doc_id AS rejected_id, reward AS r_rejected
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source, lang
                       ORDER BY reward ASC, doc_id) AS rn FROM r)
            WHERE rn = 1
        )
        SELECT b.source, b.lang, b.chosen_id, w.rejected_id,
               CAST(b.r_chosen - w.r_rejected AS BIGINT) AS reward_gap
        FROM best b JOIN worst w USING (source, lang)
        WHERE b.chosen_id <> w.rejected_id
    """,
)
def corpus_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly — the DPO/RLHF data-construction
    step: within each (source, lang) group (standing in for the
    per-prompt grouping of a real preference corpus) pair the
    highest-reward document with the lowest as (chosen, rejected),
    with the reward gap as the pair's training weight. The reward
    here is a deterministic integer proxy (distinct-token count
    lexicographically over length — a trained reward model's scores
    slot into the same query as a broadcast relation).

    Scale: two WindowGroupLimit-planned top-1 windows over the group
    key + one group-keyed join — no corpus self-join anywhere; pair
    count is bounded by the group inventory."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    r = docs.select(
        "doc_id",
        "source",
        "lang",
        (
            F.size(F.array_distinct(toks)).cast("bigint") * 1000000
            + F.size(toks).cast("bigint")
        ).alias("reward"),
    )
    wd = Window.partitionBy("source", "lang").orderBy(
        F.col("reward").desc(), F.col("doc_id")
    )
    wa = Window.partitionBy("source", "lang").orderBy(
        F.col("reward").asc(), F.col("doc_id")
    )
    best = (
        r.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") == 1)
        .select(
            "source",
            "lang",
            F.col("doc_id").alias("chosen_id"),
            F.col("reward").alias("r_chosen"),
        )
    )
    worst = (
        r.withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") == 1)
        .select(
            "source",
            "lang",
            F.col("doc_id").alias("rejected_id"),
            F.col("reward").alias("r_rejected"),
        )
    )
    return (
        best.join(worst, ["source", "lang"])
        .where(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            "source",
            "lang",
            "chosen_id",
            "rejected_id",
            (F.col("r_chosen") - F.col("r_rejected"))
            .cast("bigint")
            .alias("reward_gap"),
        )
    )


@query(
    "events_snaive_backtest",
    oracle=f"""
        WITH ev AS (SELECT CAST(date_trunc('microseconds', ts) AS TIMESTAMP)
                               AS ts,
                           event_type, value FROM events),
        {_DAILY_TYPE_CENTS_SQL},
        j AS (
            SELECT a.event_type, a.day, a.vq,
                   b.vq AS pred,
                   abs(a.vq - b.vq) AS err
            FROM d a JOIN d b
              ON a.event_type = b.event_type AND a.day = b.day + 7
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days_tested,
               ROUND(CAST(SUM(err) AS DOUBLE) / COUNT(*) / 100.0, 4) AS mae,
               ROUND(CAST(SUM(err) AS DOUBLE)
                     / CAST(SUM(abs(vq)) AS DOUBLE), 6) AS wmape
        FROM j GROUP BY event_type
    """,
)
def events_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest — the forecasting BASELINE audit every
    model must beat: predict each day's per-type total by the value
    one week earlier and score MAE and weighted-MAPE over all days
    with a week-old reference. wMAPE = Σ|err| / Σ|actual| is a pure
    integer ratio (the 1e2-quantized day totals sum exactly), so
    both engines derive the floats once from identical integers —
    the per-term e/actual form of MAPE would be an unbounded float
    sum and is deliberately avoided.

    Scale: the day rollup + one self-equi-join on (type, day−7) +
    one aggregate; completes the monitoring trio (CUSUM = step
    drift, trend slope = gradual drift, snaive error = how
    predictable the series even is)."""
    d = _daily_type_cents(spark, sf_dir)
    a, b = d.alias("a"), d.alias("b")
    j = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") == F.date_add(F.col("b.day"), 7)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.abs(F.col("a.vq") - F.col("b.vq")).alias("err"),
        F.abs(F.col("a.vq")).alias("act"),
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_tested"),
        F.round(
            F.sum("err").cast("double") / F.count(F.lit(1)) / 100.0, 4
        ).alias("mae"),
        F.round(
            F.sum("err").cast("double") / F.sum("act").cast("double"), 6
        ).alias("wmape"),
    )


#: k-core geometry: core order and synchronized peel rounds.
_KCORE_K, _KCORE_R = 3, 6


def _kcore_oracle() -> str:
    parts = [
        f"""ed AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            {_COPURCHASE_JOIN_SQL})"""
    ]
    prev = "ed"
    for r in range(1, _KCORE_R + 1):
        parts += [
            f"""s{r} AS (SELECT u, v FROM {prev}
                 UNION ALL SELECT v, u FROM {prev})""",
            f"""k{r} AS (SELECT u AS n FROM s{r}
                 GROUP BY u HAVING COUNT(*) >= {_KCORE_K})""",
            f"""e{r} AS MATERIALIZED (
                 SELECT e.u, e.v FROM {prev} e
                 JOIN k{r} a ON a.n = e.u
                 JOIN k{r} b ON b.n = e.v)""",
        ]
        prev = f"e{r}"
    last, before = f"e{_KCORE_R}", f"e{_KCORE_R - 1}"
    parts += [
        f"""conv AS (SELECT (SELECT COUNT(*) FROM {before})
                          = (SELECT COUNT(*) FROM {last}) AS converged)""",
        f"""fs AS (SELECT u, v FROM {last}
             UNION ALL SELECT v, u FROM {last})""",
        """fdeg AS (SELECT u AS part_id, CAST(COUNT(*) AS BIGINT) AS degree
             FROM fs GROUP BY u)""",
    ]
    return "WITH " + ",\n".join(parts)


@query(
    "graph_kcore_peel",
    oracle=f"""
        {_kcore_oracle()}
        SELECT part_id, degree, conv.converged
        FROM fdeg, conv
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core of the co-purchase graph via synchronized peel
    rounds (Matula-Beck): each round drops every node whose CURRENT
    degree is under {_KCORE_K} and restricts the edge set to
    survivors; the fixpoint is exactly the {_KCORE_K}-core — the
    density skeleton community detection and graph-sampling prune to
    first. {_KCORE_R} rounds are unrolled on BOTH engines with a
    ``converged`` output column (last round removed nothing) so the
    approximation contract is part of the verified result, not a
    docstring claim — on this graph the peel converges well inside
    the unroll.

    Scale (round-8 DELTA peel — the r7 verdict's task 7): the edge
    relation is STATIC (hash-partitioned by node once, persisted);
    per round the only data touched is the frontier's incidence — one
    equi-join of the symmetric edges against the (shrinking) frontier
    node set, one aggregate over those delta rows, one node-state
    update join — instead of the full union + degree rescan + double
    semi-join + edge-relation rewrite of the classic unroll. Round
    state is the NODE-scale (id, degree) relation (localCheckpoint
    per round — cheap, it is ~|V| rows where the old unroll
    checkpointed ~|E| edge rows per round). Per-round removals are
    value-identical to the rescan (maintained degree = degree in the
    surviving subgraph, by induction), so the unrolled oracle — which
    still rescans — verifies the delta implementation exactly,
    ``converged`` flag included (frontier empty ⟺ edge set
    unchanged). The r7 honest negative stands and still applies to
    the EDGE relation: lazy chaining branched its 3 consumers 3^R
    ways (measured 84.7 s vs 5.0 s); delta-peeling sidesteps it by
    never rewriting edges at all."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ed = copurchase_pairs(li).distinct()
    par = spark.sparkContext.defaultParallelism
    sym = (
        ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # partition by the probe key once: every round's frontier join
        # then reuses this layout instead of re-shuffling the edges
        .repartition(par, "u")
        .persist()
    )
    deg = cut_lineage(sym.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    ))
    front = deg.where(F.col("degree") < _KCORE_K).select("u")
    front_cnt = front.count()
    # r10: rounds actually peeled (scaling evidence for SCALING.md's
    # iterative-graph round-count table)
    graph_kcore_peel.last_rounds = 0
    for _r in range(_KCORE_R):
        last_removed = front_cnt
        if front_cnt == 0:
            # fixpoint already reached: remaining rounds are no-ops on
            # both engines (the oracle's e{r} CTEs stop changing too)
            break
        delta = (
            sym.join(front, "u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("removed_deg"))
        )
        deg = (
            deg.join(front, "u", "left_anti")
            .join(delta, "u", "left")
            .select(
                "u",
                (
                    F.col("degree")
                    - F.coalesce(F.col("removed_deg"), F.lit(0))
                ).alias("degree"),
            )
        )
        deg = cut_lineage(deg)
        front = deg.where(F.col("degree") < _KCORE_K).select("u")
        front_cnt = front.count()
        graph_kcore_peel.last_rounds = _r + 1
    # converged ⟺ round _KCORE_R removed nothing ⟺ the frontier at
    # the START of the final round was empty — exactly the oracle's
    # |e_{R-1}| = |e_R| edge-count criterion (a frontier that empties
    # only AFTER the final round's removals is NOT converged there).
    # The early break exits only when a round's starting frontier is
    # already empty, so last_removed carries the right value on every
    # path.
    converged = bool(last_removed == 0)
    out = deg.where(F.col("degree") > 0).select(
        F.col("u").alias("part_id"),
        "degree",
        F.lit(converged).alias("converged"),
    )
    from spark_query_engine.operators import release_on_drop

    return release_on_drop(out, sym)


#: Span corruption geometry: start-rate denominator (md5 coin
#: threshold = 1/20 of the 32-bit space) and raw span length.
_SC_DEN, _SC_LEN = 20, 3


@query(
    "corpus_span_corruption",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS nt
            FROM documents
        ),
        pos AS (
            SELECT doc_id, nt, unnest(range(1, nt + 1)) AS p
            FROM t
        ),
        starts AS (
            SELECT doc_id, nt, p FROM pos
            WHERE ('0x' || substr(md5('spancorr:' || CAST(doc_id AS VARCHAR)
                       || ':' || CAST(p AS VARCHAR)), 1, 8))::BIGINT
                  % {_SC_DEN} = 0
        ),
        cover AS (
            SELECT DISTINCT doc_id, nt, unnest(range(p,
                       least(p + {_SC_LEN - 1}, nt) + 1)) AS cp
            FROM starts
        ),
        isl AS (
            SELECT doc_id, nt, cp,
                   cp - ROW_NUMBER() OVER (PARTITION BY doc_id
                                           ORDER BY cp) AS grp
            FROM cover
        ),
        spans AS (
            SELECT doc_id, nt, grp,
                   CAST(MIN(cp) AS BIGINT) AS start_pos,
                   CAST(COUNT(*) AS BIGINT) AS span_len
            FROM isl GROUP BY doc_id, nt, grp
        )
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY start_pos) AS BIGINT)
                   AS mask_id,
               start_pos, span_len,
               ROUND(SUM(span_len) OVER (PARTITION BY doc_id) * 1.0 / nt, 6)
                   AS corruption_rate
        FROM spans
    """,
)
def corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask construction — the pretraining-
    objective step that turns clean text into (corrupted input,
    target spans): deterministic md5 coins pick ~1/{_SC_DEN} of token
    positions as span starts, each start covers {_SC_LEN} tokens, and
    OVERLAPPING spans MERGE into maximal masked intervals (the
    gaps-islands pattern: covered-position minus rank is constant
    within a contiguous run) — exactly the merge the T5 objective
    performs so sentinel tokens never abut. Output: one row per
    merged span with its ordinal sentinel id and the doc's realized
    corruption rate.

    Scale: one per-row coin projection, one bounded fan-out
    (≤{_SC_LEN} positions per start), one doc-partitioned window
    chain — no joins at all; the mask relation streams straight to
    the example builder. The coins are replayable model state, so
    masks are reproducible across runs and engines by construction."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("nt")
    )
    pos = widen(t).select(
        "doc_id", "nt", F.explode(F.sequence(F.lit(1), F.col("nt"))).alias("p")
    )
    coin = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit("spancorr"), F.col("doc_id"), F.col("p")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    starts = pos.where(coin % _SC_DEN == 0)
    cover = starts.select(
        "doc_id",
        "nt",
        F.explode(
            F.sequence(
                F.col("p"),
                F.least(F.col("p") + (_SC_LEN - 1), F.col("nt")),
            )
        ).alias("cp"),
    ).distinct()
    wi = Window.partitionBy("doc_id").orderBy("cp")
    isl = cover.withColumn(
        "grp", F.col("cp") - F.row_number().over(wi)
    )
    spans = isl.groupBy("doc_id", "nt", "grp").agg(
        F.min("cp").cast("bigint").alias("start_pos"),
        F.count(F.lit(1)).cast("bigint").alias("span_len"),
    )
    wd = Window.partitionBy("doc_id").orderBy("start_pos")
    wall = Window.partitionBy("doc_id")
    return spans.select(
        "doc_id",
        F.row_number().over(wd).cast("bigint").alias("mask_id"),
        "start_pos",
        "span_len",
        F.round(
            F.sum("span_len").over(wall) * 1.0 / F.col("nt"), 6
        ).alias("corruption_rate"),
    )


@query(
    "text_source_kl_divergence",
    oracle=f"""
        WITH {_SOURCE_TOKS_SQL},
        sc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        st AS (SELECT source, SUM(c) AS n FROM sc GROUP BY source),
        gc AS (SELECT tok, SUM(c) AS g FROM sc GROUP BY tok),
        gt AS (SELECT SUM(g) AS m, COUNT(*) AS v FROM gc),
        terms AS (
            SELECT sc.source,
                   (sc.c + 1.0) / (st.n + gt.v) AS p,
                   (gc.g + 1.0) / (gt.m + gt.v) AS q
            FROM sc JOIN st USING (source)
                    JOIN gc USING (tok), gt
        )
        SELECT source,
               ROUND(SUM(p * log2(p / q)), 6) AS kl_bits,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM terms GROUP BY source
    """,
)
def text_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus mixture —
    the domain-shift meter mixture planning reads (a source whose
    token distribution sits far from the blend gets different
    temperature/epoch treatment; near-zero KL means the source adds
    volume, not diversity). Add-1 smoothing over the corpus
    vocabulary on both distributions; KL in bits.

    Float discipline: the p·log2(p/q) terms divide exact integer
    counts so both engines sum identical doubles, and each source's
    sum is VOCABULARY-bounded (the alphabet-bounded-justification
    class, same as text_entropy_filter) — this corpus's synthetic
    vocabulary is ~10² types. Scale: one shared token explode feeds
    the per-source and global counters; the scorer joins on token
    with the v-row global relation broadcastable."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        widen(docs).select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    sc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    gc = sc.groupBy("tok").agg(F.sum("c").alias("g"))
    gt = gc.agg(F.sum("g").alias("m"), F.count(F.lit(1)).alias("v"))
    terms = (
        sc.join(st, "source")
        .join(F.broadcast(gc), "tok")
        .crossJoin(F.broadcast(gt))
        .select(
            "source",
            ((F.col("c") + 1.0) / (F.col("n") + F.col("v"))).alias("p"),
            ((F.col("g") + 1.0) / (F.col("m") + F.col("v"))).alias("q"),
        )
    )
    return terms.groupBy("source").agg(
        F.round(F.sum(F.col("p") * F.log2(F.col("p") / F.col("q"))), 6).alias(
            "kl_bits"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )


@query(
    "data_export_manifest",
    oracle=f"""
        WITH a AS (
            SELECT doc_id,
                   CAST(doc_id % {_PACK_SHARDS_EXPR} AS BIGINT) AS shard,
                   len(string_split(text, ' ')) AS n_toks,
                   ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
            FROM documents
        )
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS min_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_id,
               CAST(bit_xor(fp) AS BIGINT) AS content_fp
        FROM a GROUP BY shard
    """,
)
def data_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export manifest — the resumability/verification primitive of a
    large training-data WRITE: per output shard, the row count, token
    mass, id range, and an ORDER-INSENSITIVE content fingerprint
    (XOR of per-doc md5 prefixes — XOR is commutative/associative, so
    the fingerprint is identical no matter how partitions combined,
    which is exactly what a distributed writer needs: re-running a
    shard and comparing manifests verifies byte-level equality
    without re-reading the export). A resumed job recomputes only
    shards whose manifest row is missing or mismatched.

    Scale: one hash aggregate, O(shards) output. The 60-bit md5
    prefix keeps the XOR in BIGINT range on both engines."""
    docs = load(spark, sf_dir, "documents")
    a = docs.select(
        "doc_id",
        (F.col("doc_id") % _pack_shards(spark, sf_dir)).cast("bigint").alias("shard"),
        F.size(F.split("text", " ")).alias("n_toks"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("fp"),
    )
    return a.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.min("doc_id").cast("bigint").alias("min_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
        F.bit_xor("fp").cast("bigint").alias("content_fp"),
    )


@query(
    "events_anomaly_mad",
    oracle=f"""
        WITH ev AS (SELECT CAST(date_trunc('microseconds', ts) AS TIMESTAMP)
                               AS ts,
                           event_type, value FROM events),
        {_DAILY_TYPE_CENTS_SQL},
        med AS (SELECT event_type, median(vq) AS m FROM d GROUP BY 1),
        dev AS (
            SELECT d.event_type, d.day, d.vq, med.m,
                   abs(d.vq - med.m) AS ad
            FROM d JOIN med USING (event_type)
        ),
        mad AS (SELECT event_type, median(ad) AS mad FROM dev GROUP BY 1)
        SELECT dev.event_type, dev.day,
               ROUND(dev.vq / 100.0, 2) AS day_total,
               ROUND(dev.m / 100.0, 2) AS median_total,
               ROUND(mad.mad / 100.0, 2) AS mad,
               CASE WHEN mad.mad = 0 THEN dev.ad > 0
                    ELSE dev.ad > 3 * 1.4826 * mad.mad END AS is_outlier
        FROM dev JOIN mad USING (event_type)
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection on the per-type daily series — median
    ± 3·MAD·1.4826 (the consistency constant making MAD estimate σ
    under normality), the detector that survives what breaks the
    z-score twin (``events_anomaly_zscore``): a single huge outlier
    inflates the mean AND the stddev enough to hide itself, while
    median and MAD barely move (breakdown point 50% vs 0%).

    Determinism: day totals are exact 1e2-scaled integers; both
    engines' ``median`` of integers is the same order statistic
    (mean of the middle pair for even n — a .5-exact rational);
    deviations are exact, and the 3·1.4826 gate multiplies identical
    values once. Scale: day rollup + two per-type median aggregates
    + one join — output bounded by types × days."""
    d = _daily_type_cents(spark, sf_dir)
    med = d.groupBy("event_type").agg(F.median("vq").alias("m"))
    dev = d.join(med, "event_type").select(
        "event_type",
        "day",
        "vq",
        "m",
        F.abs(F.col("vq") - F.col("m")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(F.median("ad").alias("mad"))
    return dev.join(mad, "event_type").select(
        "event_type",
        "day",
        F.round(F.col("vq") / 100.0, 2).alias("day_total"),
        F.round(F.col("m") / 100.0, 2).alias("median_total"),
        F.round(F.col("mad") / 100.0, 2).alias("mad"),
        F.when(F.col("mad") == 0, F.col("ad") > 0)
        .otherwise(F.col("ad") > 3 * 1.4826 * F.col("mad"))
        .alias("is_outlier"),
    )


@query(
    "graph_degree_powerlaw",
    oracle=f"""
        WITH ed AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            {_COPURCHASE_JOIN_SQL}
        ),
        sym AS (SELECT u FROM ed UNION ALL SELECT v FROM ed),
        deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
        hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes
                 FROM deg GROUP BY d),
        pts AS (SELECT log2(CAST(d AS DOUBLE)) AS x,
                       log2(CAST(n_nodes AS DOUBLE)) AS y
                FROM hist),
        m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                     SUM(x * y) AS sxy, SUM(x * x) AS sxx,
                     SUM(y * y) AS syy
              FROM pts)
        SELECT CAST((SELECT COUNT(*) FROM hist) AS BIGINT)
                   AS n_degree_buckets,
               CAST((SELECT MAX(d) FROM deg) AS BIGINT) AS max_degree,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
                   AS loglog_slope,
               ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                     / (n * sxx - sx * sx) / (n * syy - sy * sy), 4) AS r2
        FROM m
    """,
)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution shape audit for the co-purchase graph: the
    log-log regression of (degree, node count) whose slope ≈ −α for a
    power law — the number that decides whether skew mitigations
    (degree orientation in ``graph_triangle_count``, salting) are
    needed at all, and the graph-side sibling of ``text_zipf_fit``
    (which correctly reports this synthetic corpus as non-Zipfian).

    Float discipline: the regression runs over the degree HISTOGRAM
    (bounded by the distinct-degree inventory, ~10² buckets), so the
    moment sums are the bounded-term class; the histogram counts
    themselves are exact integers. Scale: one edge build, one degree
    aggregate, one bucket rollup — the histogram is audit-sized."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ed = copurchase_pairs(li).distinct()
    sym = ed.select("u").unionAll(ed.select(F.col("v").alias("u")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    pts = hist.select(
        F.log2(F.col("d").cast("double")).alias("x"),
        F.log2(F.col("n_nodes").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nb = hist.agg(F.count(F.lit(1)).cast("bigint").alias("n_degree_buckets"))
    mx = deg.agg(F.max("d").cast("bigint").alias("max_degree"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        m.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(mx))
        .select(
            "n_degree_buckets",
            "max_degree",
            F.round(num / den, 4).alias("loglog_slope"),
            F.round(num * num / den / deny, 4).alias("r2"),
        )
    )


@query(
    "corpus_sft_loss_mask",
    oracle="""
        WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS nt
            FROM documents
        ),
        s AS (
            SELECT doc_id, nt,
                   CAST(GREATEST(1, LEAST(nt - 1,
                       CAST(('0x' || substr(md5('sft:'
                           || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                           % nt AS BIGINT))) AS BIGINT) AS n_prompt
            FROM t WHERE nt >= 2
        )
        SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, n_prompt,
               CAST(nt - n_prompt AS BIGINT) AS n_target,
               ROUND((nt - n_prompt) * 1.0 / nt, 6) AS loss_fraction,
               n_prompt + 1 AS target_start
        FROM s
    """,
)
def corpus_sft_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask construction — the instruction-tuning objective
    step that pairs with ``corpus_span_corruption`` (denoising) and
    ``corpus_pack_sequences`` (packing): split every example into a
    PROMPT prefix (loss-masked) and a TARGET suffix (trained on),
    emitting the boundary and the realized loss fraction the trainer
    will see. The boundary here is an md5-deterministic stand-in for
    the template's role-separator position — a chat-template parser
    slots into the same query as a different ``n_prompt`` expression.
    Docs under 2 tokens are excluded (no valid split exists).

    Scale: one scan, pure per-row projection, zero shuffles — the
    mask columns ride with the packing relation into the loader."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("nt")
    ).where(F.col("nt") >= 2)
    coin = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("sft"), F.col("doc_id"))), 1, 8),
        16,
        10,
    ).cast("long")
    n_prompt = F.greatest(
        F.lit(1),
        F.least(F.col("nt") - 1, (coin % F.col("nt")).cast("bigint")),
    ).cast("bigint")
    return t.select(
        "doc_id",
        F.col("nt").cast("bigint").alias("n_tokens"),
        n_prompt.alias("n_prompt"),
        (F.col("nt") - n_prompt).cast("bigint").alias("n_target"),
        F.round((F.col("nt") - n_prompt) * 1.0 / F.col("nt"), 6).alias(
            "loss_fraction"
        ),
        (n_prompt + 1).alias("target_start"),
    )


#: Epoch-plan knobs: budget = 2x corpus tokens, repeat cap = 4 epochs
#: (the data-constrained-scaling guidance: value of repeated data
#: decays fast past ~4 epochs).
_EPOCH_BUDGET_X, _EPOCH_CAP = 2, 4.0


@query(
    "corpus_epoch_plan",
    oracle=f"""
        WITH d AS (
            SELECT source,
                   len(string_split(text, ' ')) AS nt,
                   length(text) AS nc,
                   length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS na
            FROM documents
        ),
        s AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(nt) AS BIGINT) AS tokens,
                   CAST(SUM(na) AS BIGINT) AS sa,
                   CAST(SUM(nc) AS BIGINT) AS sc
            FROM d GROUP BY source
        ),
        w AS (
            SELECT source, n_docs, tokens,
                   CAST(ROUND(1000000.0 * sa / sc) AS BIGINT) AS w_ppm,
                   CAST(ROUND(1000000.0 * sa / sc) AS BIGINT) * tokens
                       AS mass
            FROM s
        ),
        g AS (
            SELECT CAST(SUM(mass) AS BIGINT) AS denom,
                   CAST({_EPOCH_BUDGET_X} * SUM(tokens) AS BIGINT) AS budget
            FROM w
        ),
        a AS (
            SELECT source, n_docs, tokens,
                   ROUND(w_ppm / 1000000.0, 6) AS weight,
                   ROUND(mass * 1.0 / denom, 6) AS share,
                   ROUND(budget * (mass * 1.0 / denom) / tokens, 4)
                       AS epochs_raw,
                   budget
            FROM w, g
        ),
        e AS (
            SELECT source, n_docs, tokens, weight, share,
                   LEAST(epochs_raw, {_EPOCH_CAP}) AS epochs,
                   epochs_raw > {_EPOCH_CAP} AS capped,
                   CAST(ROUND(LEAST(epochs_raw, {_EPOCH_CAP}) * tokens)
                        AS BIGINT) AS alloc_tokens,
                   budget
            FROM a
        )
        SELECT source, n_docs, tokens, weight, share, epochs, capped,
               alloc_tokens, budget,
               ROUND((SELECT SUM(alloc_tokens) FROM e) * 1.0 / budget, 6)
                   AS utilization
        FROM e
    """,
)
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch allocation — the mixture-planning step
    that decides how many EPOCHS each source is repeated for when the
    token budget exceeds the deduplicated corpus (the
    data-constrained-scaling regime): weight each source by an
    alpha-ratio quality proxy, allocate the {_EPOCH_BUDGET_X}x-corpus
    budget proportionally to quality-weighted token mass, and cap at
    {_EPOCH_CAP} epochs (past which repeated data stops helping).
    Output: the per-source plan — epochs, realized token allocation,
    cap flags — plus budget utilization (the head-room the planner
    re-allocates or leaves on the table). Reads beside
    ``corpus_temperature_sample`` (down-sampling the over-represented)
    as the complementary UP-sampling decision.

    Float discipline: quality weights quantized to ppm BIGINTs, token
    masses and the denominator are exact integer sums; the only float
    ops are per-row division chains (no float summation anywhere —
    the utilization numerator is an integer sum of rounded per-source
    allocations). Scale: two scans (token count + aggregate), a
    |sources|-row plan relation, constants broadcast."""
    d = load(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split("text", " ")).alias("nt"),
        F.length("text").alias("nc"),
        F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", "")).alias(
            "na"
        ),
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("tokens"),
        F.sum("na").cast("bigint").alias("sa"),
        F.sum("nc").cast("bigint").alias("sc"),
    )
    w_ppm = F.round(F.lit(1000000.0) * F.col("sa") / F.col("sc")).cast(
        "bigint"
    )
    w = s.select(
        "source",
        "n_docs",
        "tokens",
        w_ppm.alias("w_ppm"),
        (w_ppm * F.col("tokens")).alias("mass"),
    )
    g = w.agg(
        F.sum("mass").cast("bigint").alias("denom"),
        (F.lit(_EPOCH_BUDGET_X) * F.sum("tokens")).cast("bigint").alias(
            "budget"
        ),
    )
    a = w.crossJoin(F.broadcast(g)).select(
        "source",
        "n_docs",
        "tokens",
        F.round(F.col("w_ppm") / 1000000.0, 6).alias("weight"),
        F.round(F.col("mass") * 1.0 / F.col("denom"), 6).alias("share"),
        F.round(
            F.col("budget")
            * (F.col("mass") * 1.0 / F.col("denom"))
            / F.col("tokens"),
            4,
        ).alias("epochs_raw"),
        "budget",
    )
    e = a.select(
        "source",
        "n_docs",
        "tokens",
        "weight",
        "share",
        F.least(F.col("epochs_raw"), F.lit(_EPOCH_CAP)).alias("epochs"),
        (F.col("epochs_raw") > _EPOCH_CAP).alias("capped"),
        F.round(
            F.least(F.col("epochs_raw"), F.lit(_EPOCH_CAP)) * F.col("tokens")
        )
        .cast("bigint")
        .alias("alloc_tokens"),
        "budget",
    )
    tot = e.agg(F.sum("alloc_tokens").cast("bigint").alias("alloc_total"))
    return e.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tokens",
        "weight",
        "share",
        "epochs",
        "capped",
        "alloc_tokens",
        "budget",
        F.round(F.col("alloc_total") * 1.0 / F.col("budget"), 6).alias(
            "utilization"
        ),
    )


#: Neyman-allocation sample size (the survey-sampling n).
_NEYMAN_N = 1000


@query(
    "corpus_neyman_allocation",
    oracle=f"""
        WITH d AS (
            SELECT source, len(string_split(text, ' ')) AS nt
            FROM documents
        ),
        s AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS nh,
                   CAST(SUM(nt) AS BIGINT) AS sx,
                   CAST(SUM(nt * nt) AS BIGINT) AS sxx
            FROM d GROUP BY source
        ),
        v AS (
            SELECT source, nh, sx,
                   (nh * sxx - sx * sx) * 1.0 / nh / nh AS var_h,
                   sqrt((nh * sxx - sx * sx) * 1.0 / nh / nh) AS s_h
            FROM s
        ),
        m AS (
            SELECT source, nh, sx, var_h, s_h,
                   CAST(ROUND(nh * s_h) AS BIGINT) AS mass,
                   CAST(ROUND(nh * var_h) AS BIGINT) AS nvar
            FROM v
        ),
        g AS (
            SELECT CAST(SUM(mass) AS BIGINT) AS denom,
                   CAST(SUM(nvar) AS BIGINT) AS nvar_tot,
                   CAST(SUM(nh) AS BIGINT) AS n_pop
            FROM m
        )
        SELECT source, nh AS n_docs,
               ROUND(sx * 1.0 / nh, 6) AS mean_tokens,
               ROUND(s_h, 6) AS stddev_tokens,
               CAST(({_NEYMAN_N} * mass) // denom AS BIGINT) AS neyman_n,
               CAST(({_NEYMAN_N} * nh) // n_pop AS BIGINT)
                   AS proportional_n,
               ROUND(denom * denom * 1.0 / n_pop / nvar_tot, 6)
                   AS neyman_efficiency
        FROM m, g
    """,
)
def corpus_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation — the eval-set /
    annotation-budget splitter: given {_NEYMAN_N} labeling slots and
    source strata, allocate n_h ∝ N_h·S_h (stratum size × token-count
    stddev) so high-variance strata get proportionally more budget
    than flat ones; report it beside naive proportional allocation and
    the Neyman-vs-proportional efficiency ratio
    (ΣN_h·S_h)²/(N·ΣN_h·S_h²) ≤ 1 — how much estimator variance the
    optimal split saves. The third sampling decision beside
    ``sample_reservoir_group`` (uniform per-group) and
    ``corpus_temperature_sample`` (share-rebalancing).

    Float discipline: per-stratum variance comes from exact integer
    moments (N·Σx² − (Σx)²) — the covariance-matrix discipline;
    N_h·S_h masses are quantized to BIGINTs so every cross-stratum sum
    is exact, and the allocations themselves are integer floor
    divisions. Scale: one scan, one |sources|-row aggregate, zero
    corpus-sized relations past the first groupBy."""
    d = load(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).alias("nt")
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nh"),
        F.sum("nt").cast("bigint").alias("sx"),
        F.sum(F.col("nt").cast("decimal(38,0)") * F.col("nt")).cast("bigint").alias("sxx"),
    )
    var_h = (
        (F.col("nh") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * 1.0
        / F.col("nh")
        / F.col("nh")
    )
    m = s.select(
        "source",
        "nh",
        "sx",
        var_h.alias("var_h"),
        F.sqrt(var_h).alias("s_h"),
        F.round(F.col("nh") * F.sqrt(var_h)).cast("bigint").alias("mass"),
        F.round(F.col("nh") * var_h).cast("bigint").alias("nvar"),
    )
    g = m.agg(
        F.sum("mass").cast("bigint").alias("denom"),
        F.sum("nvar").cast("bigint").alias("nvar_tot"),
        F.sum("nh").cast("bigint").alias("n_pop"),
    )
    return m.crossJoin(F.broadcast(g)).select(
        "source",
        F.col("nh").alias("n_docs"),
        F.round(F.col("sx") * 1.0 / F.col("nh"), 6).alias("mean_tokens"),
        F.round(F.col("s_h"), 6).alias("stddev_tokens"),
        F.expr(f"CAST(({_NEYMAN_N} * mass) div denom AS BIGINT)").alias(
            "neyman_n"
        ),
        F.expr(f"CAST(({_NEYMAN_N} * nh) div n_pop AS BIGINT)").alias(
            "proportional_n"
        ),
        F.round(
            F.col("denom")
            * F.col("denom")
            * 1.0
            / F.col("n_pop")
            / F.col("nvar_tot"),
            6,
        ).alias("neyman_efficiency"),
    )


#: Mixture-reweighting rounds (unrolled) — multiplicative weights on
#: the per-source excess-loss proxy.
_MW_ROUNDS = 3


def _mw_oracle() -> str:
    """Unrolled multiplicative-weights CTE chain: the per-source KL
    quantizes to ppm BIGINTs, each round multiplies by the integer
    factor (1e6 + klq div 2) and renormalizes to ppm — every
    cross-source sum is an exact integer sum."""
    base = f"""
        WITH {_SOURCE_TOKS_SQL},
        sc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        st AS (SELECT source, SUM(c) AS n FROM sc GROUP BY source),
        gc AS (SELECT tok, SUM(c) AS g FROM sc GROUP BY tok),
        gt AS (SELECT SUM(g) AS m, COUNT(*) AS v FROM gc),
        terms AS (
            SELECT sc.source,
                   (sc.c + 1.0) / (st.n + gt.v) AS p,
                   (gc.g + 1.0) / (gt.m + gt.v) AS q
            FROM sc JOIN st USING (source)
                    JOIN gc USING (tok), gt
        ),
        kl AS (
            SELECT source,
                   ROUND(SUM(p * log2(p / q)), 6) AS kl_bits,
                   CAST(ROUND(ROUND(SUM(p * log2(p / q)), 6) * 1000000)
                        AS BIGINT) AS klq
            FROM terms GROUP BY source
        ),
        w0 AS (SELECT source, kl_bits, klq,
                      CAST(1000000 AS BIGINT) AS w
               FROM kl)"""
    for t in range(1, _MW_ROUNDS + 1):
        base += f""",
        u{t} AS (SELECT source, kl_bits, klq,
                        w * (1000000 + klq // 2) AS wu
                 FROM w{t - 1}),
        s{t} AS (SELECT SUM(wu) AS tot FROM u{t}),
        w{t} AS (SELECT source, kl_bits, klq,
                        CAST(ROUND(1000000.0 * wu / tot) AS BIGINT) AS w
                 FROM u{t}, s{t})"""
    return base


@query(
    "corpus_domain_mixture",
    oracle=_mw_oracle()
    + f""",
        ns AS (SELECT COUNT(*) AS k FROM w0)
        SELECT source, kl_bits,
               ROUND(1.0 / k, 6) AS mix_share_uniform,
               ROUND(w / 1000000.0, 6) AS mix_share_final,
               ROUND((w / 1000000.0) * k, 6) AS boost
        FROM w{_MW_ROUNDS}, ns
    """,
)
def corpus_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting (DoReMi-shaped, Xie et al. 2023):
    starting from the uniform mixture, run {_MW_ROUNDS} rounds of
    multiplicative weights over the per-source EXCESS-LOSS proxy —
    here the unigram KL divergence from the corpus blend
    (``text_source_kl_divergence``), the same role DoReMi's
    reference-model excess loss plays — so sources that add
    DIVERSITY (high KL) get up-weighted and redundant sources decay.
    Output: the final mixture share per source beside the uniform
    baseline and the boost factor the optimizer applied. Swapping in
    real per-domain eval losses changes one CTE, not the plan.

    Libm-free by construction: the textbook exp(η·loss) update is
    replaced by the linearized multiplicative factor (1 + η·loss) —
    cross-engine exp() differs in last ulps, integer multiplication
    never does. Each round is one |sources|-row map + one exact
    integer sum; weights re-quantize to ppm every round so the state
    entering each round is identical on both engines. Scale: the KL
    pass is the only corpus-scale step (one shared token explode);
    the optimization loop runs on a |sources|-row relation."""
    kl = text_source_kl_divergence(spark, sf_dir).select(
        "source",
        "kl_bits",
        F.round(F.round(F.col("kl_bits"), 6) * 1000000)
        .cast("bigint")
        .alias("klq"),
    )
    # r11 OPT: truncate lineage at the |sources|-row KL relation.
    # Each MW round references w twice (update + normalizing sum), so
    # the logical plan duplicates the corpus-scale KL subtree
    # ~2^(rounds+1) times (measured: 5231-line initial plan, 500
    # Exchange nodes, 128 scans) and every run re-plans and partially
    # re-executes that tree. An eager localCheckpoint on the tiny
    # (|sources| rows) KL result collapses the loop's lineage to an
    # RDD scan: measured alternating A/B at sf0.1, min-of-4
    # 3.84 s -> 2.07 s (-46%). State checkpointed is model-sized
    # (one row per source), never data-scale.
    kl = cut_lineage(kl)
    w = kl.withColumn("w", F.lit(1000000).cast("bigint"))
    for _t in range(_MW_ROUNDS):
        u = w.select(
            "source",
            "kl_bits",
            "klq",
            (
                F.col("w")
                * (F.lit(1000000) + F.expr("klq div 2"))
            ).alias("wu"),
        )
        s = u.agg(F.sum("wu").alias("tot"))
        w = u.crossJoin(F.broadcast(s)).select(
            "source",
            "kl_bits",
            "klq",
            F.round(F.lit(1000000.0) * F.col("wu") / F.col("tot"))
            .cast("bigint")
            .alias("w"),
        )
    ns = w.agg(F.count(F.lit(1)).alias("k"))
    return w.crossJoin(F.broadcast(ns)).select(
        "source",
        "kl_bits",
        F.round(1.0 / F.col("k"), 6).alias("mix_share_uniform"),
        F.round(F.col("w") / 1000000.0, 6).alias("mix_share_final"),
        F.round((F.col("w") / 1000000.0) * F.col("k"), 6).alias("boost"),
    )


#: Adamic-Adar link prediction: md5 edge-sparsification modulus (keep
#: ~1/17 of co-purchase edges), hub pivot cap, and the 1/ln(d) weight
#: table quantized to 1e9-scaled integers IN PYTHON so both engines
#: consume identical constants (libm-free cross-engine scoring — the
#: corpus_domain_mixture discipline applied to graph weights).
_AA_MOD = 17
_AA_CAP = 64
_AA_W = {d: round(1e9 / math.log(d)) for d in range(2, _AA_CAP + 1)}
_AA_TOPK = 100


def _aa_weight_values() -> str:
    return ", ".join(f"({d}, {w})" for d, w in sorted(_AA_W.items()))


@query(
    "graph_link_prediction",
    oracle=f"""
        WITH ed0 AS (
            {_COPURCHASE_EDGES_SQL}
        ),
        ed AS MATERIALIZED (
            SELECT u, v FROM ed0
            WHERE ('0x' || substr(md5(u::VARCHAR || ':' || v::VARCHAR),
                                  1, 8))::BIGINT % {_AA_MOD} = 0
        ),
        deg AS (
            SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM ed UNION ALL SELECT v FROM ed
            ) GROUP BY n
        ),
        wt(d, w) AS (VALUES {{AA_VALUES}}),
        adj AS (
            SELECT u AS z, v AS x FROM ed
            UNION ALL SELECT v AS z, u AS x FROM ed
        ),
        piv AS MATERIALIZED (
            SELECT adj.z, adj.x, wt.w
            FROM adj JOIN deg ON deg.n = adj.z
                     JOIN wt ON wt.d = deg.d
            WHERE deg.d BETWEEN 2 AND {_AA_CAP}
        ),
        sc AS (
            SELECT a1.x AS id_a, a2.x AS id_b,
                   CAST(COUNT(*) AS BIGINT) AS common_neighbors,
                   SUM(a1.w) AS aa_q
            FROM piv a1 JOIN piv a2
              ON a1.z = a2.z AND a1.x < a2.x
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, common_neighbors,
               ROUND(aa_q / 1000000000.0, 6) AS aa_score
        FROM sc
        WHERE NOT EXISTS (SELECT 1 FROM ed
                          WHERE ed.u = sc.id_a AND ed.v = sc.id_b)
        ORDER BY aa_q DESC, id_a, id_b
        LIMIT {_AA_TOPK}
    """.replace("{AA_VALUES}", _aa_weight_values()),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the (sparsified) co-purchase
    graph: for every non-adjacent pair sharing at least one neighbor,
    score = sum over common neighbors z of 1/ln(deg(z)) — rare shared
    neighbors are evidence, hubs are noise — and return the top-{k}
    predicted links. The graph is md5-edge-sparsified (keep 1/{mod} of
    edges, DOULION-style deterministic sampling) because the raw
    co-purchase graph is near-complete at small SF; pivots with degree
    above {cap} are excluded outright (the standard frequency cap:
    their per-pair weight 1/ln(d) is the smallest possible AND their
    d-choose-2 fan-out is the largest — worst signal at the highest
    cost, the same hot-key discipline as MinHash's max_shingle_df).

    Engine-identical scoring: the 1/ln(d) weights for d in
    [2, {cap}] are PRECOMPUTED in Python as 1e9-scaled integers and
    embedded as literals in both the Spark plan (broadcast dim) and
    the oracle (VALUES) — scores are exact integer SUMs, so the
    top-k cutoff under (score DESC, id_a, id_b) is bit-deterministic
    with no cross-engine libm or float-summation dependence.

    Scale: degree cap bounds wedge fan-out per pivot to {cap}^2;
    candidate generation is one equi self-join on the pivot; the
    existing-edge anti-join and weight lookup are equi joins (the
    weight relation is {cap} rows, broadcast); top-k plans as
    TakeOrderedAndProject, never a global sort."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ed = (
        copurchase_pairs(li)
        # sparsify BEFORE the distinct: the filter is a deterministic
        # function of (u, v), so order is immaterial — but filtering
        # first sends 1/mod of the pair volume into the dedup shuffle
        .where(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("u").cast("string"),
                            F.col("v").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _AA_MOD
            == 0
        )
        .distinct()
    )
    # r11 OPT: one-pass degree (explode) and one-pass symmetric
    # adjacency (inline) — each former union branch re-ran the
    # sparsified-distinct aggregate over the (AQE-reused) edge
    # exchange. Measured neutral-to-slightly-better locally
    # (5.79 -> 5.60 min-of-6; the AA wedge join dominates), strictly
    # one pass instead of two at scale.
    deg = (
        ed.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wt = F.broadcast(
        spark.createDataFrame(sorted(_AA_W.items()), "d long, w long")
    )
    adj = ed.select(
        F.inline(
            F.array(
                F.struct(F.col("u").alias("z"), F.col("v").alias("x")),
                F.struct(F.col("v").alias("z"), F.col("u").alias("x")),
            )
        )
    )
    piv = (
        adj.join(deg, adj["z"] == deg["n"])
        .where((F.col("d") >= 2) & (F.col("d") <= _AA_CAP))
        .join(wt, "d")
        .select("z", "x", "w")
    )
    a1, a2 = piv.alias("a1"), piv.alias("a2")
    sc = (
        a1.join(
            a2,
            (F.col("a1.z") == F.col("a2.z"))
            & (F.col("a1.x") < F.col("a2.x")),
        )
        .groupBy(
            F.col("a1.x").alias("id_a"), F.col("a2.x").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum("a1.w").alias("aa_q"),
        )
    )
    return (
        sc.join(
            ed,
            (sc["id_a"] == ed["u"]) & (sc["id_b"] == ed["v"]),
            "left_anti",
        )
        .orderBy(F.col("aa_q").desc(), "id_a", "id_b")
        .limit(_AA_TOPK)
        .select(
            "id_a",
            "id_b",
            "common_neighbors",
            F.round(F.col("aa_q") / 1e9, 6).alias("aa_score"),
        )
    )


graph_link_prediction.__doc__ = graph_link_prediction.__doc__.format(
    k=_AA_TOPK, mod=_AA_MOD, cap=_AA_CAP
)


#: Inter-annotator thresholds: annotator A keeps docs with at least
#: this many chars; annotator B keeps docs whose distinct-token count
#: is at least half the token count (type-token-ratio >= 0.5, compared
#: by integer cross-multiplication — no float thresholds anywhere).
_KAPPA_MINCHARS = 300


@query(
    "label_agreement_kappa",
    oracle=f"""
        WITH lab AS (
            SELECT CASE WHEN n_chars >= {_KAPPA_MINCHARS} THEN 1 ELSE 0 END AS a,
                   CASE WHEN 2 * len(list_distinct(string_split(text, ' ')))
                             >= len(string_split(text, ' '))
                        THEN 1 ELSE 0 END AS b
            FROM documents
        ),
        ct AS (
            SELECT CAST(SUM(a * b) AS BIGINT) AS n11,
                   CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
                   CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
                   CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lab
        )
        SELECT n11, n10, n01, n00,
               ROUND(1.0 * (n11 + n00) / n, 6) AS p_observed,
               ROUND(1.0 * ((n11 + n10) * (n11 + n01)
                            + (n01 + n00) * (n10 + n00)) / (n * n), 6)
                   AS p_expected,
               ROUND(1.0 * (n * (n11 + n00)
                            - ((n11 + n10) * (n11 + n01)
                               + (n01 + n00) * (n10 + n00)))
                     / (n * n
                        - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00))), 6) AS kappa
        FROM ct
    """,
)
def label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic quality annotators —
    the labeling-QA primitive of a filtered-corpus pipeline (before
    trusting a cheap heuristic or a distilled classifier to replace an
    expensive one, measure chance-corrected agreement; raw accuracy is
    inflated whenever the label distribution is skewed). Annotator A
    keeps length (n_chars >= {mc}); annotator B keeps lexical
    diversity (type-token ratio >= 1/2, decided by the integer
    cross-product 2*distinct >= total). On this synthetic corpus the
    two CONFLICT (longer docs repeat more, so kappa < 0) — precisely
    the situation the audit exists to catch: ensembling them as if
    independent would double-filter.

    Engine-identical by construction: the 2x2 contingency table is
    exact integer sums, and kappa = (po-pe)/(1-pe) is computed as ONE
    ratio of integer polynomials (n*(n11+n00) - marginals over n^2 -
    marginals) so nothing floats until the final ROUND. Scale: one
    scan, one 5-integer global aggregate."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    lab = docs.select(
        F.when(F.col("n_chars") >= _KAPPA_MINCHARS, 1).otherwise(0).alias("a"),
        F.when(
            2 * F.size(F.array_distinct(toks)) >= F.size(toks), 1
        )
        .otherwise(0)
        .alias("b"),
    )
    ct = lab.agg(
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("n00"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    marg = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    return ct.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(
            F.lit(1.0) * (F.col("n11") + F.col("n00")) / F.col("n"), 6
        ).alias("p_observed"),
        F.round(F.lit(1.0) * marg / (F.col("n") * F.col("n")), 6).alias(
            "p_expected"
        ),
        F.round(
            F.lit(1.0)
            * (F.col("n") * (F.col("n11") + F.col("n00")) - marg)
            / (F.col("n") * F.col("n") - marg),
            6,
        ).alias("kappa"),
    )


label_agreement_kappa.__doc__ = label_agreement_kappa.__doc__.format(
    mc=_KAPPA_MINCHARS
)


#: Cross-validation geometry: fold count for the assignment audit.
_CV_K = 5


@query(
    "data_cv_folds",
    oracle=f"""
        WITH a AS (
            SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % {_CV_K} AS fold,
                   lang,
                   len(string_split(text, ' ')) AS n_toks
            FROM documents
        ),
        fl AS (
            SELECT fold, lang, COUNT(*) AS c FROM a GROUP BY 1, 2
        ),
        f AS (
            SELECT fold,
                   CAST(SUM(c) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_langs,
                   CAST(MAX(c) AS BIGINT) AS max_lang_docs
            FROM fl GROUP BY fold
        ),
        t AS (
            SELECT fold, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
            FROM a GROUP BY fold
        )
        SELECT f.fold, f.n_docs, t.n_tokens, f.n_langs,
               ROUND(1.0 * f.max_lang_docs / f.n_docs, 6) AS max_lang_share
        FROM f JOIN t USING (fold)
    """,
)
def data_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment with a balance audit: every
    document lands in fold md5(doc_id) % {k} — deterministic,
    coordination-free (any worker computes any row's fold without a
    lookup table, the property that matters when the assignment must
    be reproduced across pipeline stages and re-runs) — and the audit
    reports, per fold, the document count, token mass, language
    coverage, and the dominant language's share. Uniform folds +
    near-identical max_lang_share across folds is the green light for
    fold-rotated evaluation; divergence means the hash is correlated
    with content (it never is for md5) or the corpus is too small for
    k folds.

    Scale: one scan, two hash aggregates (fold x lang, then fold) —
    O(k * langs) intermediate, k-row output, no shuffle wider than the
    fold-lang key space."""
    docs = load(spark, sf_dir, "documents")
    a = docs.select(
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % _CV_K
        ).alias("fold"),
        "lang",
        F.size(F.split("text", " ")).alias("n_toks"),
    )
    fl = a.groupBy("fold", "lang").agg(F.count(F.lit(1)).alias("c"))
    f = fl.groupBy("fold").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.max("c").cast("bigint").alias("max_lang_docs"),
    )
    t = a.groupBy("fold").agg(F.sum("n_toks").cast("bigint").alias("n_tokens"))
    return (
        f.join(t, "fold")
        .select(
            "fold",
            "n_docs",
            "n_tokens",
            "n_langs",
            F.round(
                F.lit(1.0) * F.col("max_lang_docs") / F.col("n_docs"), 6
            ).alias("max_lang_share"),
        )
    )


data_cv_folds.__doc__ = data_cv_folds.__doc__.format(k=_CV_K)


#: Benford expected first-digit probabilities log10(1 + 1/d),
#: precomputed in Python and embedded as identical double literals in
#: both engines (the libm-free constant-table discipline).
_BENFORD_P = {d: round(math.log10(1 + 1.0 / d), 12) for d in range(1, 10)}


@query(
    "data_benford_audit",
    oracle=f"""
        WITH digits AS (
            SELECT substr(CAST(CAST(ROUND(o_totalprice * 100)
                                    AS BIGINT) AS VARCHAR), 1, 1)::INT
                       AS digit
            FROM orders
        ),
        obs AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM digits GROUP BY digit
        ),
        exp_p(digit, p) AS (VALUES {", ".join(
            f"({d}, CAST({p} AS DOUBLE))" for d, p in sorted(_BENFORD_P.items())
        )}),
        tot AS (SELECT SUM(n_obs) AS n FROM obs)
        SELECT e.digit,
               COALESCE(o.n_obs, 0) AS n_obs,
               ROUND(1.0 * COALESCE(o.n_obs, 0) / tot.n, 6) AS obs_share,
               ROUND(e.p, 6) AS benford_share,
               ROUND(POWER(COALESCE(o.n_obs, 0) - e.p * tot.n, 2)
                     / (e.p * tot.n), 6) AS chi2_contrib
        FROM exp_p e LEFT JOIN obs o ON o.digit = e.digit, tot
    """,
)
def data_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit on order totals — the
    classic synthetic-/fabricated-data detector (naturally occurring
    multiplicative quantities follow P(d) = log10(1+1/d); uniform or
    generator-artifact distributions light up the chi-square). On this
    synthetic corpus the audit FIRES (digits 1-4 dominate far beyond
    Benford mass because prices are drawn near-uniform with a 500k
    cap) — the per-digit chi2_contrib columns show exactly where.

    Determinism: the first digit comes from the INTEGER-cents string
    (double*100 rounds identically on both engines — the product is
    never a .5 tie), the Benford expectations are Python-precomputed
    literals CAST to DOUBLE on the oracle side (the DuckDB
    decimal-literal gotcha), and each row's chi-square contribution is
    a single arithmetic expression of one integer count and one
    constant — no cross-engine summation anywhere. Scale: one scan,
    one 9-bucket hash aggregate."""
    orders = load(spark, sf_dir, "orders")
    digits = orders.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    tot = obs.agg(F.sum("n_obs").alias("n"))
    exp_p = spark.createDataFrame(
        sorted(_BENFORD_P.items()), "digit int, p double"
    )
    e = F.col("p") * F.col("n")
    return (
        exp_p.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias("n_obs"),
            F.round(
                F.lit(1.0)
                * F.coalesce(F.col("n_obs"), F.lit(0))
                / F.col("n"),
                6,
            ).alias("obs_share"),
            F.round(F.col("p"), 6).alias("benford_share"),
            F.round(
                F.pow(
                    F.coalesce(F.col("n_obs"), F.lit(0)) - e, F.lit(2)
                )
                / e,
                6,
            ).alias("chi2_contrib"),
        )
    )


#: JSD vocabulary cap: distributions are computed over the top-V
#: corpus terms plus one OOV residual bucket, so the dense
#: source x symbol matrix is bounded by design at any corpus size.
_JSD_V = 64


@query(
    "text_source_jsd",
    oracle=f"""
        WITH {_SOURCE_TOKS_SQL},
        sc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        gc AS (SELECT tok, SUM(c) AS g FROM sc GROUP BY tok),
        topv AS (SELECT tok FROM gc ORDER BY g DESC, tok LIMIT {_JSD_V}),
        sym AS (
            SELECT sc.source,
                   COALESCE(topv.tok, '<OOV>') AS sym,
                   SUM(sc.c) AS c
            FROM sc LEFT JOIN topv ON topv.tok = sc.tok
            GROUP BY 1, 2
        ),
        symbols AS (
            SELECT tok AS sym FROM topv UNION ALL SELECT '<OOV>'
        ),
        srcs AS (SELECT DISTINCT source FROM sc),
        st AS (SELECT source, SUM(c) AS n FROM sym GROUP BY source),
        nv AS (SELECT COUNT(*) AS v FROM symbols),
        dense AS (
            SELECT srcs.source, symbols.sym,
                   (COALESCE(sym.c, 0) + 1.0) / (st.n + nv.v) AS p
            FROM srcs CROSS JOIN symbols
            LEFT JOIN sym ON sym.source = srcs.source
                         AND sym.sym = symbols.sym
            JOIN st ON st.source = srcs.source, nv
        )
        SELECT a.source AS source_a, b.source AS source_b,
               ROUND(SUM(0.5 * (a.p * log2(2 * a.p / (a.p + b.p))
                                + b.p * log2(2 * b.p / (a.p + b.p)))), 6)
                   AS jsd_bits
        FROM dense a JOIN dense b
          ON a.sym = b.sym AND a.source < b.source
        GROUP BY 1, 2
    """,
)
def text_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every pair of
    corpus sources — the SYMMETRIC, bounded [0,1]-bits companion to
    ``text_source_kl_divergence``'s source-vs-blend meter: the full
    source-to-source distance matrix is what mixture planners cluster
    on (merge near-zero-JSD sources, keep the spread ones), and JSD's
    finiteness under disjoint support makes it the safe default where
    KL needs smoothing epsilon tuning.

    Bounded-by-design distributions: every source is projected onto
    the TOP-{v} corpus terms plus one OOV residual bucket (ties in the
    top-{v} cutoff broken by term text — a total order), so the dense
    source x symbol matrix is |sources| x {v1} REGARDLESS of corpus or
    vocabulary size — the knob that keeps an all-pairs divergence
    matrix viable at 100 TB where the raw vocabulary is 10^8. Float
    discipline: p and q are ratios of exact integer counts (identical
    doubles cross-engine), each pair's sum is {v1} terms (the
    alphabet-bounded class), rounded once at 6dp.

    Scale: one shared token explode feeds the per-source and global
    counters; the top-V cutoff is a {v}-row TakeOrderedAndProject
    broadcast back; the pair join is an equi join on the symbol with
    |sources|^2/2 * {v1} output — sources, not documents, drive the
    quadratic term."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        widen(docs).select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    sc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    gc = sc.groupBy("tok").agg(F.sum("c").alias("g"))
    topv = gc.orderBy(F.col("g").desc(), "tok").limit(_JSD_V).select("tok")
    sym = (
        sc.join(
            F.broadcast(topv.withColumnRenamed("tok", "vtok")),
            sc["tok"] == F.col("vtok"),
            "left",
        )
        .select(
            "source",
            F.coalesce(F.col("vtok"), F.lit("<OOV>")).alias("sym"),
            "c",
        )
        .groupBy("source", "sym")
        .agg(F.sum("c").alias("c"))
    )
    symbols = topv.select(F.col("tok").alias("sym")).unionByName(
        spark.createDataFrame([("<OOV>",)], "sym string")
    )
    srcs = sc.select("source").distinct()
    st = sym.groupBy("source").agg(F.sum("c").alias("n"))
    nv = symbols.agg(F.count(F.lit(1)).alias("v"))
    dense = (
        srcs.crossJoin(F.broadcast(symbols))
        .join(sym, ["source", "sym"], "left")
        .join(st, "source")
        .crossJoin(F.broadcast(nv))
        .select(
            "source",
            "sym",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                / (F.col("n") + F.col("v"))
            ).alias("p"),
        )
    )
    m = F.col("a.p") + F.col("b.p")
    return (
        blocked_pairs(dense, ["sym"], "source")
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(
            F.round(
                F.sum(
                    0.5
                    * (
                        F.col("a.p") * F.log2(2 * F.col("a.p") / m)
                        + F.col("b.p") * F.log2(2 * F.col("b.p") / m)
                    )
                ),
                6,
            ).alias("jsd_bits")
        )
    )


text_source_jsd.__doc__ = text_source_jsd.__doc__.format(
    v=_JSD_V, v1=_JSD_V + 1
)


@query(
    "corpus_quantile_normalize",
    oracle="""
        WITH d AS (
            SELECT doc_id, source, n_chars FROM documents
        ),
        sr AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY source) AS ns
            FROM d
        ),
        g AS (
            SELECT n_chars AS val,
                   row_number() OVER (ORDER BY n_chars, doc_id) AS pos
            FROM d
        ),
        n AS (SELECT COUNT(*) AS total FROM d),
        px AS (
            SELECT doc_id, source, n_chars,
                   CASE WHEN ns = 1 THEN (total + 1) // 2
                        ELSE 1 + (2 * (rk - 1) * (total - 1) + (ns - 1))
                                 // (2 * (ns - 1))
                   END AS pos
            FROM sr, n
        )
        SELECT px.doc_id, px.source,
               CAST(px.n_chars AS BIGINT) AS raw_len,
               CAST(g.val AS BIGINT) AS norm_len
        FROM px JOIN g ON g.pos = px.pos
    """,
)
def corpus_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-document quality score across
    sources — the cross-source calibration step a mixed-corpus filter
    needs: a threshold tuned on one source's score distribution is
    wrong for another (web text and code have different length/score
    shapes), so each document's score is replaced by the GLOBAL
    reference value at its within-source quantile. After this map,
    every source has an identical score distribution and one
    threshold means one thing everywhere (the microarray-era
    quantile-normalization trick applied to corpus curation).

    All-integer determinism: within-source ranks are row_number over
    (score, doc_id) — a total order — the quantile-to-global-position
    map is exact integer half-up arithmetic ((2a+b) div 2b, no float
    round anywhere), and the normalized value is an integer lookup
    from the global sorted relation.

    Scale: the within-source window is PARTITIONED by source
    (parallel); the global sorted positions come from
    ``linkage.global_rank`` — the two-pass range-partition ranking,
    no single-partition window — and the final position lookup is an
    integer equi join. Reference: the reference engine has no window
    or rank operator at all (src/logical_plan/mod.rs:12-18)."""
    from spark_query_engine.operators import linkage as L

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    sr = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("ns"),
    )
    g = L.global_rank(d.select("n_chars", "doc_id"), ["n_chars", "doc_id"],
                      rank_col="pos",
                      rows_hint=footer_rows(spark, sf_dir, "documents")).select(
        F.col("n_chars").alias("val"), "pos"
    )
    n = d.agg(F.count(F.lit(1)).alias("total"))
    px = sr.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "n_chars",
        F.when(
            F.col("ns") == 1, F.expr("(total + 1) div 2")
        )
        .otherwise(
            F.lit(1)
            + F.expr(
                "(2 * (rk - 1) * (total - 1) + (ns - 1)) div (2 * (ns - 1))"
            )
        )
        .alias("pos"),
    )
    return px.join(g, "pos").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("raw_len"),
        F.col("val").cast("bigint").alias("norm_len"),
    )


#: Fellegi-Sunter candidate window (sorted-neighborhood, mid size).
_FS_W = 8


@query(
    "linkage_fellegi_sunter",
    oracle=f"""
        WITH {_TYPO_NAME_SOURCES_SQL},
        r AS (
            SELECT *, row_number() OVER (ORDER BY name, src, orig) AS rk
            FROM u
        ),
        pr AS (
            SELECT x.name AS an, y.name AS bn,
                   CASE WHEN x.src <> y.src AND x.orig = y.orig
                        THEN 1 ELSE 0 END AS lbl
            FROM r x JOIN r y ON y.rk - x.rk BETWEEN 1 AND {_FS_W}
        ),
        fe AS (
            SELECT lbl,
                   CASE WHEN substr(an, 1, 4) = substr(bn, 1, 4)
                        THEN 1 ELSE 0 END AS f_prefix,
                   CASE WHEN right(an, 4) = right(bn, 4)
                        THEN 1 ELSE 0 END AS f_suffix,
                   CASE WHEN length(an) = length(bn)
                        THEN 1 ELSE 0 END AS f_len
            FROM pr
        ),
        tot AS (
            SELECT CAST(SUM(lbl) AS BIGINT) AS nm,
                   CAST(SUM(1 - lbl) AS BIGINT) AS nu
            FROM fe
        ),
        feat AS (
            SELECT 'prefix4' AS feature,
                   CAST(SUM(lbl * f_prefix) AS BIGINT) AS cm,
                   CAST(SUM((1 - lbl) * f_prefix) AS BIGINT) AS cu
            FROM fe
            UNION ALL
            SELECT 'suffix4',
                   CAST(SUM(lbl * f_suffix) AS BIGINT),
                   CAST(SUM((1 - lbl) * f_suffix) AS BIGINT)
            FROM fe
            UNION ALL
            SELECT 'len_eq',
                   CAST(SUM(lbl * f_len) AS BIGINT),
                   CAST(SUM((1 - lbl) * f_len) AS BIGINT)
            FROM fe
        ),
        wt AS (
            SELECT feature,
                   (2.0 * cm + 1) / (2 * nm + 2) AS m_prob,
                   (2.0 * cu + 1) / (2 * nu + 2) AS u_prob
            FROM feat, tot
        ),
        wq AS (
            SELECT feature,
                   ROUND(m_prob, 6) AS m_prob,
                   ROUND(u_prob, 6) AS u_prob,
                   CAST(ROUND(1000000 * log2(m_prob / u_prob)) AS BIGINT)
                       AS wq_agree,
                   CAST(ROUND(1000000 * log2((1 - m_prob) / (1 - u_prob)))
                        AS BIGINT) AS wq_disagree
            FROM wt
        ),
        scored AS (
            SELECT fe.lbl,
                   (CASE WHEN f_prefix = 1 THEN p.wq_agree
                         ELSE p.wq_disagree END
                    + CASE WHEN f_suffix = 1 THEN s.wq_agree
                           ELSE s.wq_disagree END
                    + CASE WHEN f_len = 1 THEN l.wq_agree
                           ELSE l.wq_disagree END) AS score_q
            FROM fe,
                 (SELECT * FROM wq WHERE feature = 'prefix4') p,
                 (SELECT * FROM wq WHERE feature = 'suffix4') s,
                 (SELECT * FROM wq WHERE feature = 'len_eq') l
        ),
        conf AS (
            SELECT CAST(SUM(CASE WHEN score_q > 0 AND lbl = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN score_q > 0 AND lbl = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN score_q <= 0 AND lbl = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN score_q <= 0 AND lbl = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM scored
        )
        SELECT wq.feature, wq.m_prob, wq.u_prob,
               ROUND(wq.wq_agree / 1000000.0, 6) AS w_agree,
               ROUND(wq.wq_disagree / 1000000.0, 6) AS w_disagree,
               conf.tp, conf.fp, conf.fn, conf.tn
        FROM wq, conf
    """,
)
def linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage scoring over the
    sorted-neighborhood candidate set — the SCORING half of the
    merge/purge pipeline (``linkage_sorted_neighborhood`` is the
    blocking half): per comparison feature (4-char prefix agree,
    4-char suffix agree, exact length agree), estimate m = P(agree |
    match) and u = P(agree | non-match) from the planted ground truth
    with add-half smoothing, form the classic log2(m/u) agreement and
    log2((1-m)/(1-u)) disagreement weights, score every candidate
    pair by summed weights, and report the weight table beside the
    threshold-0 confusion matrix. The output tells the whole FS
    story: length NEVER agrees for true matches here (single-char
    deletion ⇒ m_len ≈ 0 ⇒ strongly negative agreement weight — the
    audit catches that 'length equal' is ANTI-evidence under this
    corruption model), while prefix/suffix agreement carries the
    signal.

    Engine-identical: m/u are exact integer ratios ((2c+1)/(2n+2) —
    add-half in integers), each weight is ONE log2 of that ratio
    quantized to 1e6-scaled BIGINT (the domain_mixture ppm
    discipline), pair scores are exact INTEGER sums of the three
    quantized weights, and the threshold-0 classification compares
    integers — no float summation anywhere on the pair plane.

    Scale: candidate generation is the bucketized rank band join
    (O(n·w) pairs); the weight table is 3 rows of driver-free
    broadcast state; scoring is one scan of the pair relation."""
    from spark_query_engine.operators import linkage as L

    u = _typo_name_sources(spark, sf_dir)
    ranked = L.global_rank(
        u, ["name", "src", "orig"], rank_col="rk",
        rows_hint=2 * footer_rows(spark, sf_dir, "part"),
    )
    pairs = L.sorted_neighborhood_pairs(ranked, _FS_W, rank_col="rk")
    fe = pairs.select(
        F.when(
            (F.col("a_src") != F.col("b_src"))
            & (F.col("a_orig") == F.col("b_orig")),
            1,
        )
        .otherwise(0)
        .alias("lbl"),
        F.when(
            F.substring("a_name", 1, 4) == F.substring("b_name", 1, 4), 1
        )
        .otherwise(0)
        .alias("f_prefix"),
        F.when(F.expr("right(a_name, 4)") == F.expr("right(b_name, 4)"), 1)
        .otherwise(0)
        .alias("f_suffix"),
        F.when(F.length("a_name") == F.length("b_name"), 1)
        .otherwise(0)
        .alias("f_len"),
    ).persist()  # r9: lazy — the wq collect populates it; conf reuses
    feats = {"prefix4": "f_prefix", "suffix4": "f_suffix", "len_eq": "f_len"}
    agg = fe.agg(
        F.sum("lbl").cast("bigint").alias("nm"),
        F.sum(1 - F.col("lbl")).cast("bigint").alias("nu"),
        *[
            F.sum(F.col("lbl") * F.col(c)).cast("bigint").alias(f"cm_{k}")
            for k, c in feats.items()
        ],
        *[
            F.sum((1 - F.col("lbl")) * F.col(c))
            .cast("bigint")
            .alias(f"cu_{k}")
            for k, c in feats.items()
        ],
    )
    wq = agg.select(
        F.expr(
            "stack(3, "
            + ", ".join(
                f"'{k}', cm_{k}, cu_{k}" for k in feats
            )
            + ") AS (feature, cm, cu)"
        ),
        "nm",
        "nu",
    ).select(
        "feature",
        ((2.0 * F.col("cm") + 1) / (2 * F.col("nm") + 2)).alias("m_prob"),
        ((2.0 * F.col("cu") + 1) / (2 * F.col("nu") + 2)).alias("u_prob"),
    ).select(
        "feature",
        "m_prob",
        "u_prob",
        F.round(1000000 * F.log2(F.col("m_prob") / F.col("u_prob")))
        .cast("bigint")
        .alias("wq_agree"),
        F.round(
            1000000
            * F.log2((1 - F.col("m_prob")) / (1 - F.col("u_prob")))
        )
        .cast("bigint")
        .alias("wq_disagree"),
    ).persist()  # r9: lazy — the collect below populates it
    wrow = {
        r["feature"]: (r["wq_agree"], r["wq_disagree"])
        for r in wq.collect()  # 3-row weight model — bounded driver state
    }
    score = sum(
        F.when(F.col(c) == 1, F.lit(wrow[k][0])).otherwise(
            F.lit(wrow[k][1])
        )
        for k, c in feats.items()
    )
    conf = fe.select("lbl", score.alias("score_q")).agg(
        F.sum(F.when((F.col("score_q") > 0) & (F.col("lbl") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("score_q") > 0) & (F.col("lbl") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when((F.col("score_q") <= 0) & (F.col("lbl") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when((F.col("score_q") <= 0) & (F.col("lbl") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    return release_on_drop(
        wq.crossJoin(F.broadcast(conf)).select(
            "feature",
            F.round("m_prob", 6).alias("m_prob"),
            F.round("u_prob", 6).alias("u_prob"),
            F.round(F.col("wq_agree") / 1e6, 6).alias("w_agree"),
            F.round(F.col("wq_disagree") / 1e6, 6).alias("w_disagree"),
            "tp",
            "fp",
            "fn",
            "tn",
        ),
        fe,
        wq,
    )


#: Poisson bootstrap geometry: replicate count and the Poisson(1)
#: inverse-CDF thresholds on the 60-bit md5 space, precomputed in
#: Python once so both engines branch on identical integers (weights
#: capped at 6; P(X > 6) < 1e-4 truncation documented).
_BOOT_B = 32
_BOOT_T = []


def _boot_thresholds() -> list[int]:
    if not _BOOT_T:
        cdf, p = 0.0, math.exp(-1)
        for k in range(6):
            cdf += p
            _BOOT_T.append(math.floor(cdf * (1 << 60)))
            p /= k + 1
    return _BOOT_T


def _boot_weight_sql(hcol: str) -> str:
    ts = _boot_thresholds()
    cases = " ".join(
        f"WHEN {hcol} < {t} THEN {k}" for k, t in enumerate(ts)
    )
    return f"CASE {cases} ELSE 6 END"


@query(
    "stats_poisson_bootstrap",
    oracle=f"""
        WITH base AS (
            SELECT o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        fan AS (
            SELECT b.cents,
                   r.r,
                   ('0x' || substr(md5(b.o_orderkey::VARCHAR || ':'
                                       || r.r::VARCHAR), 1, 15))::BIGINT AS h
            FROM base b CROSS JOIN range({_BOOT_B}) r(r)
        ),
        wtd AS (
            SELECT r, cents, {_boot_weight_sql('h')} AS w FROM fan
        ),
        reps AS (
            SELECT r,
                   CAST(SUM(w * cents) AS BIGINT) AS s,
                   CAST(SUM(w) AS BIGINT) AS n
            FROM wtd GROUP BY r
        ),
        rk AS (
            SELECT r, s, n,
                   row_number() OVER (ORDER BY 1.0 * s / n, r) AS q
            FROM reps
        ),
        pt AS (
            SELECT ROUND(SUM(cents) / 100.0 / COUNT(*), 4) AS mean_price
            FROM base
        )
        SELECT pt.mean_price,
               (SELECT ROUND(1.0 * s / n / 100.0, 4) FROM rk WHERE q = 2)
                   AS ci_lo,
               (SELECT ROUND(1.0 * s / n / 100.0, 4) FROM rk
                WHERE q = {_BOOT_B - 1}) AS ci_hi,
               CAST({_BOOT_B} AS BIGINT) AS n_replicates
        FROM pt
    """,
)
def stats_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order value
    — THE scale-correct resampling scheme (Chamandy et al., 'Estimating
    uncertainty for massive data streams', Google 2012): classic
    multinomial bootstrap needs the global row count per resample and
    shuffles the whole dataset B times; the Poisson approximation
    gives every (row, replicate) an independent Poisson(1) weight, so
    all B replicates compute in ONE scan with a constant ×B fan-out
    and one (replicate)-keyed aggregate. CI bounds are the 2nd/31st
    order statistics of the 32 replicate means (~94% nominal
    coverage).

    Engine-identical randomness: Poisson(1) draws come from comparing
    each (row, replicate) 60-bit md5 value against PYTHON-precomputed
    inverse-CDF integer thresholds (embedded as literals both sides;
    weights capped at 6, P(X>6) < 1e-4); replicate sums are exact
    integer cents; replicate means are integer ratios; the order
    statistic ranks over the B-row relation with a (value, r)
    tiebreak. Scale: one scan, fan-out ×{b} (constant), one B-group
    aggregate, and a {b}-row sort — the B-row relation is the only
    'global' object and it is O(B), not O(n)."""
    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("r").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    ts = _boot_thresholds()
    w = F.when(h < ts[0], 0)
    for k, t in list(enumerate(ts))[1:]:
        w = w.when(h < t, k)
    w = w.otherwise(6)
    # Widen BEFORE the ×32 fan-out (r11): the md5-per-(row, replicate)
    # work is ×32 the scan size but inherits the scan's SPLIT count —
    # orders.parquet arrives as one file (5 byte-sized splits at sf1,
    # 14 at sf3), so the expensive stage ran on under half the cores
    # and wall time sat FLAT at ~29 s from sf1 to sf3 while the rest
    # idled (caught by the r11 sf3 rows; SCALING.md 11c). The standard
    # `widen` guard — one n-row shuffle of two bigint columns, no-op
    # on many-split cluster scans — was simply missing here.
    base = widen(base)
    # generator fan-out beats a 32-row broadcast crossJoin by ~20%
    # (no BNLJ row-copy loop; the array is constant-folded)
    wtd = base.select(
        "o_orderkey",
        "cents",
        F.explode(F.array(*[F.lit(i) for i in range(_BOOT_B)])).alias("r"),
    ).select("r", "cents", w.alias("w"))
    repagg = wtd.groupBy("r").agg(
        # deliberately BIGINT (MOMENT_ALLOWLIST): decimal arithmetic
        # in this xB-fanned hot path measured +37% on the bench; the
        # product is bounded (Poisson weight <= ~8 x price cents
        # <= 6e7 -> ~5e8/row; x1e9 rows = 5e17 < 2^63)
        F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("s"),
        F.sum("w").cast("bigint").alias("n"),
    )
    rk = repagg.select(
        "r",
        "s",
        "n",
        F.row_number()
        .over(
            # B-row relation — the bounded-window class, never the data
            Window.orderBy(F.lit(1.0) * F.col("s") / F.col("n"), F.col("r"))
        )
        .alias("q"),
    )
    pt = base.agg(
        F.round(F.sum("cents") / 100.0 / F.count(F.lit(1)), 4).alias(
            "mean_price"
        )
    )
    # both CI bounds from ONE pass over the ranked B-row relation —
    # separate lo/hi branches would recompute the xB fan-out twice
    mean_r = F.lit(1.0) * F.col("s") / F.col("n") / 100.0
    ci = rk.agg(
        F.round(F.max(F.when(F.col("q") == 2, mean_r)), 4).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("q") == _BOOT_B - 1, mean_r)), 4
        ).alias("ci_hi"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "mean_price",
        "ci_lo",
        "ci_hi",
        F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
    )


@query(
    "events_theil_sen_trend",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   COUNT(*) AS c
            FROM ({EVENTS_ORACLE}) e GROUP BY 1, 2
        ),
        dd AS (
            SELECT event_type, d, c,
                   DATEDIFF('day', DATE '1970-01-01', d) AS dn
            FROM daily
        ),
        slopes AS (
            SELECT a.event_type,
                   1.0 * (b.c - a.c) / (b.dn - a.dn) AS slope,
                   a.dn AS i, b.dn AS j
            FROM dd a JOIN dd b
              ON a.event_type = b.event_type AND a.dn < b.dn
        ),
        rk AS (
            SELECT event_type, slope,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY slope, i, j) AS q,
                   COUNT(*) OVER (PARTITION BY event_type) AS np
            FROM slopes
        )
        SELECT event_type,
               CAST(ANY_VALUE(np) AS BIGINT) AS n_pairs,
               ROUND(ANY_VALUE(CASE WHEN q = (np + 1) // 2
                                    THEN slope END), 6) AS ts_slope
        FROM rk
        WHERE q = (np + 1) // 2
        GROUP BY event_type
    """,
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator per event type — the
    median-of-pairwise-slopes regression that survives ~29% outlier
    contamination where ``events_trend_slope``'s OLS line chases a
    single corrupted day (the robust/classical pairing that
    ``events_anomaly_mad`` vs ``events_anomaly_zscore`` gives for
    point outliers, applied to TREND estimation).

    Scale: pairwise slopes are generated by self-joining the DAILY
    AGGREGATE relation (|types| x days rows — the data plane never
    fans out), so the pair count is C(days, 2) per type regardless of
    event volume; the median is an exact order statistic over that
    bounded relation via a PARTITIONED rank window with a total-order
    (slope, i, j) tiebreak. Each slope is one ratio of exact integers
    (count delta over day delta) — identical doubles cross-engine, no
    summation anywhere."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    dd = daily.select(
        "event_type", "c", F.datediff("d", F.lit("1970-01-01")).alias("dn")
    )
    slopes = blocked_pairs(dd, ["event_type"], "dn").select(
        F.col("a.event_type").alias("event_type"),
        (
            F.lit(1.0)
            * (F.col("b.c") - F.col("a.c"))
            / (F.col("b.dn") - F.col("a.dn"))
        ).alias("slope"),
        F.col("a.dn").alias("i"),
        F.col("b.dn").alias("j"),
    )
    w = Window.partitionBy("event_type").orderBy("slope", "i", "j")
    rk = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("q"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("np"),
    )
    return (
        rk.where(F.col("q") == F.expr("(np + 1) div 2"))
        .groupBy("event_type")
        .agg(
            F.first("np").cast("bigint").alias("n_pairs"),
            F.round(F.first("slope"), 6).alias("ts_slope"),
        )
    )


#: KS 5%-level critical constant c(0.05)^2 = 1.3581^2, as an exact
#: Python-precomputed rational (ppm) so the reject decision is an
#: integer comparison on both engines.
_KS_C2_PPM = round(1.3581**2 * 1_000_000)


@query(
    "stats_ks_drift",
    oracle=f"""
        WITH ref AS (
            SELECT n_chars AS v FROM documents WHERE lang = 'en'
        ),
        oth AS (
            SELECT lang, n_chars AS v FROM documents WHERE lang <> 'en'
        ),
        vals AS (
            SELECT DISTINCT n_chars AS v FROM documents
        ),
        langs AS (SELECT DISTINCT lang FROM oth),
        nr AS (SELECT COUNT(*) AS n_en FROM ref),
        nl AS (SELECT lang, COUNT(*) AS n FROM oth GROUP BY lang),
        cum_ref AS (
            SELECT vals.v,
                   (SELECT COUNT(*) FROM ref WHERE ref.v <= vals.v)
                       AS c_en
            FROM vals
        ),
        cum_oth AS (
            SELECT langs.lang, vals.v,
                   (SELECT COUNT(*) FROM oth
                    WHERE oth.lang = langs.lang AND oth.v <= vals.v) AS c
            FROM langs CROSS JOIN vals
        ),
        dq AS (
            SELECT o.lang,
                   MAX(ABS(o.c * nr.n_en - r.c_en * nl.n)) AS d_q
            FROM cum_oth o
            JOIN cum_ref r ON r.v = o.v
            JOIN nl ON nl.lang = o.lang, nr
            GROUP BY o.lang
        )
        SELECT dq.lang,
               nl.n AS n_docs,
               nr.n_en AS n_ref,
               ROUND(1.0 * d_q / (nl.n * nr.n_en), 6) AS d_stat,
               CAST(CASE WHEN 1000000 * d_q * d_q >
                         {_KS_C2_PPM} * (nl.n + nr.n_en)
                             * (nl.n * nr.n_en)
                    THEN 1 ELSE 0 END AS INT) AS reject_5pct
        FROM dq JOIN nl ON nl.lang = dq.lang, nr
    """,
)
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test of every language's
    document-length distribution against the English reference — the
    nonparametric distribution-shift detector for corpus monitoring
    (no normality assumption, unlike the z-score family; sensitive to
    shape changes the mean-based monitors miss). D = max |F_l - F_en|
    over the merged support, with the 5% decision made by the classic
    c(alpha)*sqrt((n1+n2)/(n1*n2)) critical band.

    Everything stays integer until the display columns: cumulative
    CDFs are integer counts, D is maximized as |c_l*n_en - c_en*n_l|
    (cross-multiplied — no division before the max), and the reject
    decision compares 1e6*D_q^2 against c^2_ppm*(n1+n2)*n1*n2 — the
    critical constant is a Python-precomputed ppm rational, so the
    square root never happens on either engine.

    Scale: the support relation is DISTINCT score values (bounded for
    discretized scores; quantile-bucket the score first if its support
    were unbounded), per-language CDFs are one cumulative count over
    the value-ordered BOUNDED relation, and the max is a |langs|-group
    aggregate."""
    docs = load(spark, sf_dir, "documents").select("lang", "n_chars")
    ref = docs.where(F.col("lang") == "en").select(F.col("n_chars").alias("v"))
    oth = docs.where(F.col("lang") != "en").select(
        "lang", F.col("n_chars").alias("v")
    )
    vals = docs.select(F.col("n_chars").alias("v")).distinct()
    nr = ref.agg(F.count(F.lit(1)).alias("n_en"))
    nl = oth.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    # cumulative reference CDF over the bounded support: counts per
    # value, then a running sum ordered by value (bounded relation)
    refc = ref.groupBy("v").agg(F.count(F.lit(1)).alias("rc"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum_ref = (
        vals.join(refc, "v", "left")
        .select("v", F.coalesce("rc", F.lit(0)).alias("rc"))
        .select("v", F.sum("rc").over(wv).alias("c_en"))
    )
    othc = oth.groupBy("lang", "v").agg(F.count(F.lit(1)).alias("oc"))
    langs = oth.select("lang").distinct()
    wlv = Window.partitionBy("lang").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_oth = (
        langs.crossJoin(vals)
        .join(othc, ["lang", "v"], "left")
        .select("lang", "v", F.coalesce("oc", F.lit(0)).alias("oc"))
        .select("lang", "v", F.sum("oc").over(wlv).alias("c"))
    )
    dq = (
        cum_oth.join(cum_ref, "v")
        .join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(nr))
        .groupBy("lang")
        .agg(
            F.max(
                F.abs(
                    F.col("c") * F.col("n_en") - F.col("c_en") * F.col("n")
                )
            ).alias("d_q")
        )
    )
    return (
        dq.join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(nr))
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            F.col("n_en").alias("n_ref"),
            F.round(
                F.lit(1.0) * F.col("d_q") / (F.col("n") * F.col("n_en")), 6
            ).alias("d_stat"),
            F.when(
                F.lit(1000000) * F.col("d_q") * F.col("d_q")
                > F.lit(_KS_C2_PPM)
                * (F.col("n") + F.col("n_en"))
                * (F.col("n") * F.col("n_en")),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("reject_5pct"),
        )
    )


@query(
    "events_changepoint_detect",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
                   COUNT(*) AS c
            FROM ({EVENTS_ORACLE}) e GROUP BY 1, 2
        ),
        idx AS (
            SELECT event_type, c,
                   row_number() OVER (PARTITION BY event_type ORDER BY d)
                       AS i,
                   COUNT(*) OVER (PARTITION BY event_type) AS n,
                   SUM(c) OVER (PARTITION BY event_type) AS s,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY d) AS s1
            FROM daily
        ),
        cand AS (
            SELECT event_type, i AS t, n, s, s1,
                   -- between-segment explained SS, cross-multiplied to
                   -- one integer per candidate: gain(t) ∝
                   -- (n*s1 - t*s)^2 / (t*(n-t))  — compare as exact
                   -- integer ratios via the double of BIGINT products
                   (n * s1 - i * s) * (n * s1 - i * s) AS num,
                   i * (n - i) AS den
            FROM idx WHERE i < n
        ),
        best AS (
            SELECT event_type, t, num, den,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY 1.0 * num / den DESC, t
                   ) AS r
            FROM cand
        )
        SELECT b.event_type,
               CAST(b.t AS BIGINT) AS split_after_day,
               ROUND(1.0 * b.num / b.den / ANY_VALUE(i.n), 4) AS gain,
               ROUND(1.0 * ANY_VALUE(i.s1) / b.t, 4) AS mean_before,
               ROUND(1.0 * (ANY_VALUE(i.s) - ANY_VALUE(i.s1))
                     / (ANY_VALUE(i.n) - b.t), 4) AS mean_after
        FROM best b
        JOIN idx i ON i.event_type = b.event_type AND i.i = b.t
        WHERE b.r = 1
        GROUP BY b.event_type, b.t, b.num, b.den
    """,
)
def events_changepoint_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint localization per event type — one round of
    binary segmentation (the classic CUSUM-companion: ``events_cusum_
    drift`` raises the ONLINE alarm, this finds WHERE the level
    shifted in the recorded series, the first split of a full
    segmentation tree). For a split after position t the
    between-segment explained sum of squares reduces, via prefix
    sums, to (n·S1(t) − t·S)² / (t(n−t)·n) — so the argmax needs
    only the per-day prefix sums S1(t) and three integers per
    candidate.

    Engine-identical: every candidate's score is ONE ratio of exact
    BIGINT products (counts are integers; no variance accumulators,
    no float summation), the argmax is a partitioned rank with a
    deterministic (score DESC, t) tiebreak, and the reported gain and
    segment means are rounded integer ratios.

    Scale: events roll up to the (types × days) daily relation once;
    all windows are PARTITIONED by type over calendar-bounded rows.
    The candidate relation is days−1 rows per type — binary
    segmentation's recursion would re-run this query on each side,
    never touching raw events again."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type",
        "c",
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("c").over(wp).alias("s"),
        F.sum("c").over(wo).alias("s1"),
    )
    num = (F.col("n") * F.col("s1") - F.col("i") * F.col("s")) * (
        F.col("n") * F.col("s1") - F.col("i") * F.col("s")
    )
    den = F.col("i") * (F.col("n") - F.col("i"))
    cand = idx.where(F.col("i") < F.col("n")).select(
        "event_type",
        F.col("i").alias("t"),
        "n",
        "s",
        "s1",
        num.alias("num"),
        den.alias("den"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        (F.lit(1.0) * F.col("num") / F.col("den")).desc(), "t"
    )
    best = cand.withColumn("r", F.row_number().over(wr)).where(F.col("r") == 1)
    return best.select(
        "event_type",
        F.col("t").cast("bigint").alias("split_after_day"),
        F.round(F.lit(1.0) * F.col("num") / F.col("den") / F.col("n"), 4).alias(
            "gain"
        ),
        F.round(F.lit(1.0) * F.col("s1") / F.col("t"), 4).alias("mean_before"),
        F.round(
            F.lit(1.0) * (F.col("s") - F.col("s1")) / (F.col("n") - F.col("t")),
            4,
        ).alias("mean_after"),
    )


#: Holdout split modulus for link-prediction evaluation (1/5 test).
_AA_EVAL_MOD = 5


@query(
    "graph_linkpred_eval",
    oracle=f"""
        WITH ed0 AS (
            {_COPURCHASE_EDGES_SQL}
        ),
        ed AS MATERIALIZED (
            SELECT u, v,
                   ('0x' || substr(md5(u::VARCHAR || ':' || v::VARCHAR
                                       || ':T'), 1, 8))::BIGINT
                       % {_AA_EVAL_MOD} = 0 AS is_test
            FROM ed0
            WHERE ('0x' || substr(md5(u::VARCHAR || ':' || v::VARCHAR),
                                  1, 8))::BIGINT % {_AA_MOD} = 0
        ),
        train AS MATERIALIZED (SELECT u, v FROM ed WHERE NOT is_test),
        test AS MATERIALIZED (SELECT u, v FROM ed WHERE is_test),
        deg AS (
            SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM train UNION ALL SELECT v FROM train
            ) GROUP BY n
        ),
        wt(d, w) AS (VALUES {{AA_VALUES}}),
        adj AS (
            SELECT u AS z, v AS x FROM train
            UNION ALL SELECT v AS z, u AS x FROM train
        ),
        piv AS MATERIALIZED (
            SELECT adj.z, adj.x, wt.w
            FROM adj JOIN deg ON deg.n = adj.z
                     JOIN wt ON wt.d = deg.d
            WHERE deg.d BETWEEN 2 AND {_AA_CAP}
        ),
        sc AS (
            SELECT a1.x AS id_a, a2.x AS id_b, SUM(a1.w) AS aa_q
            FROM piv a1 JOIN piv a2
              ON a1.z = a2.z AND a1.x < a2.x
            GROUP BY 1, 2
        ),
        pred AS (
            SELECT id_a, id_b FROM sc
            WHERE NOT EXISTS (SELECT 1 FROM train
                              WHERE train.u = sc.id_a
                                AND train.v = sc.id_b)
            ORDER BY aa_q DESC, id_a, id_b
            LIMIT {_AA_TOPK}
        ),
        hits AS (
            SELECT COUNT(*) AS h FROM pred
            JOIN test ON test.u = pred.id_a AND test.v = pred.id_b
        )
        SELECT CAST({_AA_TOPK} AS BIGINT) AS k,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM test) AS n_test,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM train) AS n_train,
               (SELECT CAST(h AS BIGINT) FROM hits) AS hits_at_k,
               ROUND(1.0 * (SELECT h FROM hits) / {_AA_TOPK}, 6)
                   AS precision_at_k,
               ROUND(1.0 * (SELECT h FROM hits)
                     / (SELECT COUNT(*) FROM test), 6) AS recall_at_k
    """.replace("{AA_VALUES}", _aa_weight_values()),
)
def graph_linkpred_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction HOLDOUT evaluation — the honest closing of the
    ``graph_link_prediction`` loop: hide a deterministic 1/{m} of the
    (sparsified) co-purchase edges, score non-adjacent pairs with
    Adamic-Adar on the REMAINING graph, and report precision@{k} /
    recall@{k} of the top-{k} predictions against the hidden edges.
    A score audit without a holdout only shows the ranking exists;
    this shows whether it predicts — and the same two columns are the
    regression gate a production graph pipeline pins per release.

    On THIS corpus the verified answer is zero hits, and that is the
    correct reading: TPC-H assigns parts to orders (near-)uniformly,
    so the co-purchase graph has no latent link structure and the
    chance expectation for 100 predictions against ~14k positives in
    a ~2M-pair space is ≪ 1 hit — the audit correctly reports that
    common-neighbor signal does not exist in a random bipartite
    projection (the same honest-null family as ``text_zipf_fit``
    flagging the synthetic corpus as non-Zipfian). On a real
    purchase graph the number is the release gate.

    Same engine-identical machinery as the parent query (integer AA
    weights, exact-integer top-k cutoff, md5 split coins shared by
    both engines); the split key is salted (':T') so test membership
    is independent of the sparsification coin. Scale: identical to
    the parent — the holdout adds one anti-join and one equi-join
    against the O(|test|) relation."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    keep = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("u").cast("string"),
                        F.col("v").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _AA_MOD
        == 0
    )
    is_test = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.concat_ws(
                            ":",
                            F.col("u").cast("string"),
                            F.col("v").cast("string"),
                        ),
                        F.lit(":T"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _AA_EVAL_MOD
        == 0
    )
    ed = (
        copurchase_pairs(li)
        .where(keep)
        .distinct()
        .withColumn("is_test", is_test)
        # eager checkpoint KEPT (r9 A/B): a lazy persist measured
        # consistently ~1 s slower at sf0.1 (5.27-5.29 vs 6.13-6.31,
        # alternating same-box runs) — the 4-way train reuse reads the
        # RDD scan cheaper than the columnar cache decode
    )
    # split reused by train graph, test probe, counts
    ed = cut_lineage(ed)
    train = ed.where(~F.col("is_test")).select("u", "v")
    test = ed.where(F.col("is_test")).select("u", "v")
    # r11 OPT: one-pass degree/adjacency (see graph_link_prediction);
    # measured flat here (train reads the eager checkpoint, so the
    # former double scan was already cheap) — kept for the identical
    # machinery and the one-pass shape at scale.
    deg = (
        train.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wt = F.broadcast(
        spark.createDataFrame(sorted(_AA_W.items()), "d long, w long")
    )
    adj = train.select(
        F.inline(
            F.array(
                F.struct(F.col("u").alias("z"), F.col("v").alias("x")),
                F.struct(F.col("v").alias("z"), F.col("u").alias("x")),
            )
        )
    )
    piv = (
        adj.join(deg, adj["z"] == deg["n"])
        .where((F.col("d") >= 2) & (F.col("d") <= _AA_CAP))
        .join(wt, "d")
        .select("z", "x", "w")
    )
    a1, a2 = piv.alias("a1"), piv.alias("a2")
    sc = (
        a1.join(
            a2,
            (F.col("a1.z") == F.col("a2.z"))
            & (F.col("a1.x") < F.col("a2.x")),
        )
        .groupBy(F.col("a1.x").alias("id_a"), F.col("a2.x").alias("id_b"))
        .agg(F.sum("a1.w").alias("aa_q"))
    )
    pred = (
        sc.join(
            train,
            (sc["id_a"] == train["u"]) & (sc["id_b"] == train["v"]),
            "left_anti",
        )
        .orderBy(F.col("aa_q").desc(), "id_a", "id_b")
        .limit(_AA_TOPK)
        .select("id_a", "id_b")
    )
    hits = pred.join(
        test,
        (pred["id_a"] == test["u"]) & (pred["id_b"] == test["v"]),
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("h"))
    n_test = test.agg(F.count(F.lit(1)).alias("nt"))
    n_train = train.agg(F.count(F.lit(1)).alias("ntr"))
    return (
        hits.crossJoin(F.broadcast(n_test))
        .crossJoin(F.broadcast(n_train))
        .select(
            F.lit(_AA_TOPK).cast("bigint").alias("k"),
            F.col("nt").cast("bigint").alias("n_test"),
            F.col("ntr").cast("bigint").alias("n_train"),
            F.col("h").cast("bigint").alias("hits_at_k"),
            F.round(F.lit(1.0) * F.col("h") / _AA_TOPK, 6).alias(
                "precision_at_k"
            ),
            F.round(F.lit(1.0) * F.col("h") / F.col("nt"), 6).alias(
                "recall_at_k"
            ),
        )
    )


graph_linkpred_eval.__doc__ = graph_linkpred_eval.__doc__.format(
    m=_AA_EVAL_MOD, k=_AA_TOPK
)


#: PSI geometry: decile buckets from the reference window, add-half
#: smoothing, 15-day reference/current split of the 30-day series.
_PSI_BUCKETS = 10
_PSI_SPLIT_DAY = 15


@query(
    "stats_psi_drift",
    oracle=f"""
        WITH ev AS (
            SELECT value, event_id,
                   DATEDIFF('day',
                            (SELECT MIN(CAST(date_trunc('day', ts) AS DATE))
                             FROM ({EVENTS_ORACLE}) m),
                            CAST(date_trunc('day', ts) AS DATE))
                       < {_PSI_SPLIT_DAY} AS is_ref
            FROM ({EVENTS_ORACLE}) e WHERE value IS NOT NULL
        ),
        ref AS (SELECT value, event_id FROM ev WHERE is_ref),
        cur AS (SELECT value FROM ev WHERE NOT is_ref),
        rr AS (
            SELECT value,
                   row_number() OVER (ORDER BY value, event_id) AS rk,
                   COUNT(*) OVER () AS n
            FROM ref
        ),
        bounds AS (
            SELECT value AS b,
                   row_number() OVER (ORDER BY rk) AS k
            FROM rr
            WHERE rk IN (SELECT (n * g.g) // {_PSI_BUCKETS}
                         FROM (SELECT DISTINCT n FROM rr) x,
                              range(1, {_PSI_BUCKETS}) g(g))
        ),
        rbuck AS (
            SELECT (SELECT COUNT(*) FROM bounds WHERE bounds.b < ref.value)
                       AS bucket
            FROM ref
        ),
        cbuck AS (
            SELECT (SELECT COUNT(*) FROM bounds WHERE bounds.b < cur.value)
                       AS bucket
            FROM cur
        ),
        rc AS (SELECT bucket, COUNT(*) AS c FROM rbuck GROUP BY bucket),
        cc AS (SELECT bucket, COUNT(*) AS c FROM cbuck GROUP BY bucket),
        nn AS (
            SELECT (SELECT COUNT(*) FROM rbuck) AS nr,
                   (SELECT COUNT(*) FROM cbuck) AS nc
        ),
        terms AS (
            SELECT g.g AS bucket,
                   (2.0 * COALESCE(rc.c, 0) + 1) / (2 * nn.nr + {_PSI_BUCKETS})
                       AS p,
                   (2.0 * COALESCE(cc.c, 0) + 1) / (2 * nn.nc + {_PSI_BUCKETS})
                       AS q
            FROM range(0, {_PSI_BUCKETS}) g(g)
            LEFT JOIN rc ON rc.bucket = g.g
            LEFT JOIN cc ON cc.bucket = g.g, nn
        )
        SELECT bucket,
               ROUND(p, 6) AS ref_share,
               ROUND(q, 6) AS cur_share,
               ROUND((p - q) * ln(p / q), 6) AS psi_term,
               (SELECT ROUND(SUM((p - q) * ln(p / q)), 6) FROM terms)
                   AS psi_total
        FROM terms
    """,
)
def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the first and second half of
    the event-value series — THE production ML-monitoring drift
    number (credit-risk lineage: PSI < 0.1 stable, 0.1-0.25 watch,
    > 0.25 re-train): decile buckets are frozen from the REFERENCE
    window's exact order statistics, both windows histogram into
    them, and PSI = sum (p-q)·ln(p/q) with add-half smoothing so an
    empty current bucket stays finite. Complements the KS test (which
    answers 'did it shift?' with a p-value) with the magnitude-graded
    number dashboards actually threshold on.

    Determinism: bucket boundaries are exact rank-selected VALUES
    (rank by (value, event_id) — a total order; both engines select
    ranks n·k/{b}), shares are add-half integer ratios, and each of
    the {b} ln terms is computed from identical doubles (the
    alphabet-bounded float class; sums are {b} terms, rounded at
    6dp). Scale: the ranking is ``linkage.global_rank`` (two-pass,
    no single-partition window); bucket assignment broadcasts the
    9-value boundary relation; everything after the two histograms
    is O(buckets)."""
    from spark_query_engine.operators import linkage as L

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    min_day = ev.agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("d0")
    )
    ev = ev.crossJoin(F.broadcast(min_day)).select(
        "value",
        "event_id",
        (
            F.datediff(F.date_trunc("day", "ts").cast("date"), F.col("d0"))
            < _PSI_SPLIT_DAY
        ).alias("is_ref"),
    )
    ref = ev.where(F.col("is_ref")).select("value", "event_id")
    cur = ev.where(~F.col("is_ref")).select("value")
    rr = L.global_rank(
        ref, ["value", "event_id"], rank_col="rk",
        rows_hint=footer_rows(spark, sf_dir, "events"),
    )
    n_ref = rr.agg(F.count(F.lit(1)).alias("n"))
    bounds = (
        rr.crossJoin(F.broadcast(n_ref))
        .where(
            F.expr(
                "rk IN ("
                + ", ".join(
                    f"(n * {g}) div {_PSI_BUCKETS}"
                    for g in range(1, _PSI_BUCKETS)
                )
                + ")"
            )
        )
        .select(F.col("value").alias("b"))
    )
    blist = sorted(r["b"] for r in bounds.collect())  # 9 doubles — model state
    bucket_of = lambda c: sum(
        F.when(c > F.lit(b), 1).otherwise(0) for b in blist
    )
    rc = (
        ref.select(bucket_of(F.col("value")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cc = (
        cur.select(bucket_of(F.col("value")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nr = ref.agg(F.count(F.lit(1)).alias("nr"))
    nc = cur.agg(F.count(F.lit(1)).alias("nc"))
    grid = spark.range(_PSI_BUCKETS).select(
        F.col("id").cast("long").alias("bucket")
    )
    terms = (
        grid.join(F.broadcast(rc.withColumnRenamed("c", "rc")), "bucket", "left")
        .join(F.broadcast(cc.withColumnRenamed("c", "cc")), "bucket", "left")
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "bucket",
            (
                (2.0 * F.coalesce(F.col("rc"), F.lit(0)) + 1)
                / (2 * F.col("nr") + _PSI_BUCKETS)
            ).alias("p"),
            (
                (2.0 * F.coalesce(F.col("cc"), F.lit(0)) + 1)
                / (2 * F.col("nc") + _PSI_BUCKETS)
            ).alias("q"),
        )
    )
    tot = terms.agg(
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))),
            6,
        ).alias("psi_total")
    )
    return terms.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round("p", 6).alias("ref_share"),
        F.round("q", 6).alias("cur_share"),
        F.round(
            (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 6
        ).alias("psi_term"),
        "psi_total",
    )


#: Rank-biserial effect-size bands (Cohen-style cuts on r = 2*AUC-1):
#: |r| >= 0.5 large, >= 0.3 medium, >= 0.1 small — compared as exact
#: integer cross-products, never as rounded floats.
_MW_REF_LANG = "en"


@query(
    "stats_auc_mannwhitney",
    oracle=f"""
        WITH ref AS (
            SELECT n_chars AS v FROM documents
            WHERE lang = '{_MW_REF_LANG}'
        ),
        oth AS (
            SELECT lang, n_chars AS v FROM documents
            WHERE lang <> '{_MW_REF_LANG}'
        ),
        refc AS (SELECT v, COUNT(*) AS ce FROM ref GROUP BY v),
        othc AS (
            SELECT lang, v, COUNT(*) AS cl FROM oth GROUP BY lang, v
        ),
        nl AS (SELECT lang, COUNT(*) AS n1 FROM oth GROUP BY lang),
        nr AS (SELECT COUNT(*) AS n0 FROM ref),
        w AS (
            SELECT o.lang,
                   SUM(o.cl * COALESCE(
                       (SELECT SUM(r2.ce) FROM refc r2 WHERE r2.v < o.v),
                       0)) AS wins,
                   SUM(o.cl * COALESCE(r.ce, 0)) AS ties
            FROM othc o LEFT JOIN refc r ON r.v = o.v
            GROUP BY o.lang
        )
        SELECT w.lang,
               nl.n1 AS n_lang,
               nr.n0 AS n_ref,
               CAST(2 * w.wins + w.ties AS BIGINT) AS u2,
               FLOOR(1000000.0 * (2 * w.wins + w.ties)
                     / (2 * nl.n1 * nr.n0) + 0.5) / 1000000.0 AS auc,
               CASE
                   WHEN 2 * ABS(2 * w.wins + w.ties - nl.n1 * nr.n0)
                        >= nl.n1 * nr.n0 THEN 'large'
                   WHEN 10 * ABS(2 * w.wins + w.ties - nl.n1 * nr.n0)
                        >= 3 * nl.n1 * nr.n0 THEN 'medium'
                   WHEN 10 * ABS(2 * w.wins + w.ties - nl.n1 * nr.n0)
                        >= nl.n1 * nr.n0 THEN 'small'
                   ELSE 'negligible'
               END AS effect
        FROM w JOIN nl ON nl.lang = w.lang, nr
    """,
)
def stats_auc_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of document length as a discriminator of each language
    vs the English reference, via the Mann-Whitney rank-sum identity
    AUC = U/(n1*n0) — the standard tie-aware formulation (wins count
    1, ties count 1/2), kept EXACT by carrying u2 = 2U = 2*wins +
    ties as an integer. The effect column grades the rank-biserial
    correlation r = 2*AUC - 1 into Cohen-style bands with pure
    integer cross-multiplications (|u2 - n1*n0| vs scaled n1*n0), so
    no float ever decides a band. AUC itself is emitted floor-half-up
    at 6dp from one double division of exact integers — identical on
    both engines (the per-row-float gotcha in FIXTURES.md).

    This is the same statistic the Mann-Whitney U test inverts — the
    repo's drift suite thus covers shape (KS), magnitude (PSI), and
    now discrimination/effect-size (AUC), the three numbers a corpus
    dashboard actually shows.

    Scale: wins/ties come from per-value count relations joined on
    the BOUNDED distinct-value support (the KS-test pattern,
    stats_ks_drift) — never a row-level pairwise join; the cumulative
    below-v reference mass is one running sum over that bounded
    support; everything after is a |langs|-row aggregate."""
    docs = load(spark, sf_dir, "documents").select("lang", "n_chars")
    ref = docs.where(F.col("lang") == _MW_REF_LANG).select(
        F.col("n_chars").alias("v")
    )
    oth = docs.where(F.col("lang") != _MW_REF_LANG).select(
        "lang", F.col("n_chars").alias("v")
    )
    refc = ref.groupBy("v").agg(F.count(F.lit(1)).alias("ce"))
    othc = oth.groupBy("lang", "v").agg(F.count(F.lit(1)).alias("cl"))
    nl = oth.groupBy("lang").agg(F.count(F.lit(1)).alias("n1"))
    nr = ref.agg(F.count(F.lit(1)).alias("n0"))
    # cumulative reference mass strictly below v, over the bounded
    # distinct-value support (union of both sides' values)
    vals = (
        othc.select("v").union(refc.select("v")).distinct()
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        vals.join(refc, "v", "left")
        .select("v", F.coalesce("ce", F.lit(0)).alias("ce"))
        .select(
            "v",
            "ce",
            (F.sum("ce").over(wv) - F.col("ce")).alias("ce_below"),
        )
    )
    w = (
        othc.join(cum, "v")
        .groupBy("lang")
        .agg(
            F.sum(F.col("cl") * F.col("ce_below")).alias("wins"),
            F.sum(F.col("cl") * F.col("ce")).alias("ties"),
        )
    )
    u2 = (2 * F.col("wins") + F.col("ties")).alias("u2")
    d = F.abs(2 * F.col("wins") + F.col("ties") - F.col("n1") * F.col("n0"))
    n1n0 = F.col("n1") * F.col("n0")
    return (
        w.join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(nr))
        .select(
            "lang",
            F.col("n1").alias("n_lang"),
            F.col("n0").alias("n_ref"),
            u2,
            (
                F.floor(
                    F.lit(1000000.0)
                    * (2 * F.col("wins") + F.col("ties"))
                    / (2 * F.col("n1") * F.col("n0"))
                    + 0.5
                )
                / 1000000.0
            ).alias("auc"),
            F.when(2 * d >= n1n0, "large")
            .when(10 * d >= 3 * n1n0, "medium")
            .when(10 * d >= n1n0, "small")
            .otherwise("negligible")
            .alias("effect"),
        )
    )


#: 5%-level chi-square critical values for dof 1..10, premultiplied to
#: ppm so the decision is a comparison of two exact 6dp quantities.
_CHI2_CRIT_PPM = {
    1: 3841459, 2: 5991465, 3: 7814728, 4: 9487729, 5: 11070498,
    6: 12591587, 7: 14067140, 8: 15507313, 9: 16918978, 10: 18307038,
}
_CHI2_CRIT_SQL = "CASE dof " + " ".join(
    f"WHEN {k} THEN {v}" for k, v in _CHI2_CRIT_PPM.items()
) + " ELSE NULL END"


@query(
    "stats_chi2_drift",
    oracle=f"""
        WITH ev AS (
            SELECT event_type,
                   DATEDIFF('day',
                            (SELECT MIN(CAST(date_trunc('day', ts) AS DATE))
                             FROM ({EVENTS_ORACLE}) m),
                            CAST(date_trunc('day', ts) AS DATE))
                       < {_PSI_SPLIT_DAY} AS is_ref
            FROM ({EVENTS_ORACLE}) e
        ),
        o AS (
            SELECT event_type,
                   COUNT(*) FILTER (WHERE is_ref) AS oref,
                   COUNT(*) FILTER (WHERE NOT is_ref) AS ocur
            FROM ev GROUP BY event_type
        ),
        tot AS (
            SELECT CAST(SUM(oref) AS BIGINT) AS nr,
                   CAST(SUM(ocur) AS BIGINT) AS nc,
                   CAST(COUNT(*) - 1 AS INT) AS dof
            FROM o
        ),
        terms AS (
            SELECT o.event_type, o.oref, o.ocur, tot.dof,
                   POWER(CAST(o.oref * (tot.nr + tot.nc)
                              - (o.oref + o.ocur) * tot.nr AS DOUBLE), 2)
                       / (CAST((o.oref + o.ocur) AS DOUBLE)
                          * tot.nr * tot.nc) AS term
            FROM o, tot
        )
        SELECT event_type,
               oref AS ref_count,
               ocur AS cur_count,
               ROUND(term, 6) AS chi2_term,
               (SELECT ROUND(SUM(term), 6) FROM terms) AS chi2_total,
               dof,
               CAST(CASE WHEN (SELECT ROUND(SUM(term), 6) FROM terms)
                              * 1000000 > {_CHI2_CRIT_SQL}
                    THEN 1 ELSE 0 END AS INT) AS reject_5pct
        FROM terms
    """,
)
def stats_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of homogeneity between the event-type mix of
    the first and second 15-day halves of the event stream — the
    CATEGORICAL drift detector that completes the monitoring triad
    (KS = numeric shape, PSI = numeric magnitude, chi-square =
    categorical mix). Uses the 2xk contingency identity: because each
    row's two deviations are negatives of each other, the per-type
    contribution collapses to d^2/(rowtotal*nR*nC) with d = O_ref*N -
    rowtotal*nR computed EXACTLY in int64 before one double square —
    no expected-count float ever subtracts from an observed count.
    The 5% decision joins the rounded total against a premultiplied
    ppm critical-value table for dof 1..10, so both engines compare
    identical 6dp integers.

    Scale: one groupBy over the stream produces the k-row contingency
    relation; totals are a 1-row aggregate broadcast back; everything
    after is O(k). d fits int64 while rowtotal*N < 9.2e18 — beyond
    that, pre-aggregate counts per shard first (the counts, not the
    rows, are what this test consumes)."""
    ev = load(spark, sf_dir, "events")
    min_day = ev.agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("d0")
    )
    o = (
        ev.crossJoin(F.broadcast(min_day))
        .select(
            "event_type",
            (
                F.datediff(
                    F.date_trunc("day", "ts").cast("date"), F.col("d0")
                )
                < _PSI_SPLIT_DAY
            ).alias("is_ref"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("is_ref"), 1)).alias("oref"),
            F.count(F.when(~F.col("is_ref"), 1)).alias("ocur"),
        )
    )
    tot = o.agg(
        F.sum("oref").alias("nr"),
        F.sum("ocur").alias("nc"),
        (F.count(F.lit(1)) - 1).cast("int").alias("dof"),
    )
    d = (
        F.col("oref") * (F.col("nr") + F.col("nc"))
        - (F.col("oref") + F.col("ocur")) * F.col("nr")
    ).cast("double")
    terms = o.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "oref",
        "ocur",
        "dof",
        (
            F.pow(d, F.lit(2))
            / (
                (F.col("oref") + F.col("ocur")).cast("double")
                * F.col("nr")
                * F.col("nc")
            )
        ).alias("term"),
    )
    total = terms.agg(F.round(F.sum("term"), 6).alias("chi2_total"))
    crit = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for kv in _CHI2_CRIT_PPM.items()
                for x in kv
            ]
        ),
        F.col("dof"),
    )
    return terms.crossJoin(F.broadcast(total)).select(
        "event_type",
        F.col("oref").alias("ref_count"),
        F.col("ocur").alias("cur_count"),
        F.round("term", 6).alias("chi2_term"),
        "chi2_total",
        "dof",
        F.when(F.col("chi2_total") * 1000000 > crit, 1)
        .otherwise(0)
        .cast("int")
        .alias("reject_5pct"),
    )


#: ACF geometry: lags 1..10 over the zero-filled daily-count series.
_ACF_MAX_LAG = 10


@query(
    "events_acf_lags",
    oracle=f"""
        WITH days AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d
            FROM ({EVENTS_ORACLE}) e
        ),
        m AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM days),
        grid AS (
            SELECT unnest(generate_series(0,
                          DATEDIFF('day', d0, d1))) AS idx
            FROM m
        ),
        c AS (
            SELECT DATEDIFF('day', m.d0, days.d) AS idx, COUNT(*) AS x
            FROM days, m GROUP BY 1
        ),
        x AS (
            SELECT grid.idx, COALESCE(c.x, 0) AS x
            FROM grid LEFT JOIN c USING (idx)
        ),
        st AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s
            FROM x
        ),
        a AS (SELECT idx, st.n * x.x - st.s AS a FROM x, st),
        den AS (SELECT CAST(SUM(a * a) AS BIGINT) AS d0 FROM a),
        lags AS (SELECT g.g AS lag FROM range(1, {_ACF_MAX_LAG} + 1) g(g)),
        nk AS (
            SELECT lags.lag, CAST(SUM(a1.a * a2.a) AS BIGINT) AS num
            FROM lags
            CROSS JOIN a a1
            JOIN a a2 ON a2.idx = a1.idx + lags.lag
            GROUP BY lags.lag
        )
        SELECT CAST(nk.lag AS BIGINT) AS lag,
               st.n AS n_days,
               FLOOR(1000000.0 * nk.num / den.d0 + 0.5) / 1000000.0 AS acf
        FROM nk, st, den
    """,
)
def events_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at
    lags 1..{k} — the first thing a forecaster computes (weekly
    seasonality shows as a spike at lag 7; the seasonal-naive
    backtest, events_snaive_backtest, assumes what this measures).
    Standard full-series-mean ACF: r_k = sum (x_t-u)(x_t+k - u) /
    sum (x_t-u)^2, made EXACT by clearing denominators — a_d =
    n*x_d - S is an integer once counts are integers, so numerator
    and denominator are exact int64 sums and the only float is one
    final division, emitted floor-half-up at 6dp identically on both
    engines. Zero-event days enter as true zeros via the day grid
    (a gap is signal, not absence).

    Scale: the series is a daily aggregate — one groupBy of the
    stream, then everything downstream is O(days * lags) on a
    BOUNDED relation (the r5 changepoint/Theil-Sen pattern). The lag
    join is an integer equi-join on the day index; n*x stays in
    int64 until daily volume approaches 9.2e18/n_days."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("d")
    )
    m = ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (
        m.select(
            F.explode(
                F.sequence(F.lit(0), F.datediff("d1", "d0"))
            ).alias("idx")
        )
    )
    c = (
        ev.crossJoin(F.broadcast(m))
        .select(F.datediff("d", "d0").alias("idx"))
        .groupBy("idx")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    x = (
        grid.join(c, "idx", "left")
        .select("idx", F.coalesce("x", F.lit(0)).alias("x"))
    )
    st = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("s"),
    )
    a = x.crossJoin(F.broadcast(st)).select(
        "idx", (F.col("n") * F.col("x") - F.col("s")).alias("a"), "n"
    )
    # a = n*x - s reaches ~1e13 at plausible daily volumes, so a²
    # overflows int64 — widen to decimal(38,0) (exact; the relation
    # is O(days), so the decimal tax the bootstrap A/B measured is
    # irrelevant here). Caught by the digit-aware r7 moment gate.
    den = a.agg(
        F.sum(F.col("a").cast("decimal(38,0)") * F.col("a")).alias("d0")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    nk = (
        a.crossJoin(F.broadcast(lags))
        .select("lag", (F.col("idx") + F.col("lag")).alias("idx2"), "a")
        .join(
            a.select(F.col("idx").alias("idx2"), F.col("a").alias("a2")),
            "idx2",
        )
        .groupBy("lag")
        .agg(
            F.sum(F.col("a").cast("decimal(38,0)") * F.col("a2")).alias(
                "num"
            )
        )
    )
    return (
        nk.crossJoin(F.broadcast(st.select("n")))
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            F.col("n").alias("n_days"),
            (
                F.floor(
                    F.lit(1000000.0) * F.col("num") / F.col("d0") + 0.5
                )
                / 1000000.0
            ).alias("acf"),
        )
    )


events_acf_lags.__doc__ = events_acf_lags.__doc__.format(k=_ACF_MAX_LAG)


@query(
    "events_item_cooccurrence",
    oracle=f"""
        WITH inc AS (
            SELECT DISTINCT user_id, event_type
            FROM ({EVENTS_ORACLE}) e
        ),
        nt AS (
            SELECT event_type, COUNT(*) AS n FROM inc GROUP BY event_type
        ),
        nu AS (SELECT COUNT(DISTINCT user_id) AS nu FROM inc),
        co AS (
            SELECT a.event_type AS item_a, b.event_type AS item_b,
                   COUNT(*) AS co
            FROM inc a JOIN inc b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        )
        SELECT co.item_a, co.item_b,
               na.n AS n_a, nb.n AS n_b, co.co AS n_both,
               FLOOR(1000000.0 * co.co / sqrt(CAST(na.n AS DOUBLE) * nb.n)
                     + 0.5) / 1000000.0 AS cosine,
               FLOOR(1000000.0 * co.co / (na.n + nb.n - co.co) + 0.5)
                   / 1000000.0 AS jaccard,
               FLOOR(1000000.0 * co.co * nu.nu
                     / (CAST(na.n AS DOUBLE) * nb.n) + 0.5)
                   / 1000000.0 AS lift
        FROM co
        JOIN nt na ON na.event_type = co.item_a
        JOIN nt nb ON nb.event_type = co.item_b, nu
    """,
)
def events_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence similarity over the user x event-type
    incidence matrix — the classic collaborative-filtering /
    market-basket primitive (Amazon-style 'users who did A also did
    B'): cosine, Jaccard, and lift for every unordered item pair,
    from exact integer co-occurrence counts. Lift > 1 means the pair
    co-occurs more than independence predicts; cosine is the
    item-item kNN weight. All three emitted floor-half-up at 6dp
    from one double expression over exact ints.

    Scale: the incidence relation is one DISTINCT (user, item) pass;
    the pair join is user-keyed, so candidate volume is
    sum_u k_u^2 with k_u bounded by the item inventory a user
    touches — the standard per-user pair fan-out of item-based CF
    (cap k_u or sample heavy users when the inventory is unbounded;
    here k <= |event types|). Item marginals broadcast back onto the
    k^2-row pair relation."""
    inc = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    nt = inc.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    nu = inc.agg(F.countDistinct("user_id").alias("nu"))
    a = inc.select("user_id", F.col("event_type").alias("item_a"))
    b = inc.select("user_id", F.col("event_type").alias("item_b"))
    co = (
        a.join(b, "user_id")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    def _f6(x):
        return F.floor(F.lit(1000000.0) * x + 0.5) / 1000000.0
    return (
        co.join(
            F.broadcast(nt.select(F.col("event_type").alias("item_a"),
                                  F.col("n").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(nt.select(F.col("event_type").alias("item_b"),
                                  F.col("n").alias("n_b"))),
            "item_b",
        )
        .crossJoin(F.broadcast(nu))
        .select(
            "item_a",
            "item_b",
            "n_a",
            "n_b",
            "n_both",
            _f6(
                F.col("n_both")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("cosine"),
            _f6(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            ).alias("jaccard"),
            _f6(
                F.col("n_both") * F.col("nu")
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
    )


#: DuckDB twin of ``_daily_events_users``.
_DAILY_EVENTS_USERS_SQL = f"""daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                   COUNT(*) AS x,
                   COUNT(DISTINCT user_id) AS y
            FROM ({EVENTS_ORACLE}) e GROUP BY 1
        )"""


def _daily_events_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, x, y): events and distinct users per day — the paired
    daily series the rank-correlation queries compare."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.countDistinct("user_id").alias("y"),
        )
    )


@query(
    "stats_spearman_daily",
    oracle=f"""
        WITH {_DAILY_EVENTS_USERS_SQL},
        r AS (
            SELECT d, x, y,
                   2 * (SELECT COUNT(*) FROM daily b WHERE b.x < daily.x)
                     + (SELECT COUNT(*) FROM daily b WHERE b.x = daily.x)
                     + 1 AS rx,
                   2 * (SELECT COUNT(*) FROM daily b WHERE b.y < daily.y)
                     + (SELECT COUNT(*) FROM daily b WHERE b.y = daily.y)
                     + 1 AS ry
            FROM daily
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(rx) AS BIGINT) AS sx,
                   CAST(SUM(ry) AS BIGINT) AS sy,
                   CAST(SUM(rx * rx) AS BIGINT) AS sxx,
                   CAST(SUM(ry * ry) AS BIGINT) AS syy,
                   CAST(SUM(rx * ry) AS BIGINT) AS sxy
            FROM r
        )
        SELECT n AS n_days,
               CAST(n * sxy - sx * sy AS BIGINT) AS num,
               FLOOR(1000000.0 * (n * sxy - sx * sy)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                     + 0.5) / 1000000.0 AS rho
        FROM s
    """,
)
def stats_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily event volume and daily
    active users — the robust (monotone-invariant) association
    measure, here answering 'do busy days also mean broad days, or
    just heavy users?'. Tie-correct by construction: midranks are
    carried DOUBLED (2*midrank = 2*count_below + count_equal + 1, an
    integer), so every rank is exact, Spearman = Pearson over the
    doubled ranks (the scaling cancels), all five moments are exact
    int64 sums, and the only floats are two sqrts and one division
    emitted floor-half-up at 6dp — identical on both engines.

    Scale: the data-plane work is one daily groupBy; ranks come from
    joining the O(days) relation against its own value-count
    marginals (no global window), and moments are one aggregate of
    the bounded series — the ACF/Theil-Sen daily-series pattern."""
    daily = _daily_events_users(spark, sf_dir)
    def rank2(col):
        vc = daily.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        return vc.select(
            "v",
            (
                2 * (F.sum("c").over(wv) - F.col("c")) + F.col("c") + 1
            ).alias(f"r_{col}"),
        )
    r = (
        daily.join(
            F.broadcast(rank2("x").withColumnRenamed("v", "x")), "x"
        ).join(F.broadcast(rank2("y").withColumnRenamed("v", "y")), "y")
    )
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r_x").alias("sx"),
        F.sum("r_y").alias("sy"),
        F.sum(F.col("r_x") * F.col("r_x")).alias("sxx"),
        F.sum(F.col("r_y") * F.col("r_y")).alias("syy"),
        F.sum(F.col("r_x") * F.col("r_y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return s.select(
        F.col("n").alias("n_days"),
        num.cast("long").alias("num"),
        (
            F.floor(
                F.lit(1000000.0) * num / (F.sqrt(denx) * F.sqrt(deny))
                + 0.5
            )
            / 1000000.0
        ).alias("rho"),
    )


#: Holt linear smoothing coefficients (level, trend). Kept as exact
#: binary-representable-ish literals CAST to DOUBLE on the oracle side
#: (DuckDB parses bare decimals as DECIMAL — the fk_grade gotcha).
_HOLT_ALPHA, _HOLT_BETA = 0.5, 0.3


@query(
    "events_holt_backtest",
    oracle=f"""
        WITH RECURSIVE days AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d
            FROM ({EVENTS_ORACLE}) e
        ),
        m AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM days),
        grid AS (
            SELECT unnest(generate_series(0,
                          DATEDIFF('day', d0, d1))) AS idx
            FROM m
        ),
        c AS (
            SELECT DATEDIFF('day', m.d0, days.d) AS idx, COUNT(*) AS x
            FROM days, m GROUP BY 1
        ),
        xs AS (
            SELECT grid.idx, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
            FROM grid LEFT JOIN c USING (idx)
        ),
        s AS (
            SELECT 0 AS idx,
                   CAST((SELECT x FROM xs WHERE idx = 0) AS DOUBLE) AS l,
                   CAST((SELECT x FROM xs WHERE idx = 1)
                        - (SELECT x FROM xs WHERE idx = 0) AS DOUBLE) AS b,
                   CAST(NULL AS DOUBLE) AS f
            UNION ALL
            SELECT s.idx + 1,
                   CAST({_HOLT_ALPHA} AS DOUBLE) * CAST(xs.x AS DOUBLE)
                       + (1 - CAST({_HOLT_ALPHA} AS DOUBLE))
                         * (s.l + s.b),
                   CAST({_HOLT_BETA} AS DOUBLE)
                       * ((CAST({_HOLT_ALPHA} AS DOUBLE)
                           * CAST(xs.x AS DOUBLE)
                           + (1 - CAST({_HOLT_ALPHA} AS DOUBLE))
                             * (s.l + s.b)) - s.l)
                       + (1 - CAST({_HOLT_BETA} AS DOUBLE)) * s.b,
                   s.l + s.b
            FROM s JOIN xs ON xs.idx = s.idx + 1
        ),
        bt AS (
            SELECT s.idx, xs.x,
                   FLOOR(1000000.0 * s.f + 0.5) / 1000000.0 AS forecast,
                   FLOOR(1000000.0 * ABS(CAST(xs.x AS DOUBLE) - s.f)
                         + 0.5) / 1000000.0 AS abs_err
            FROM s JOIN xs USING (idx) WHERE s.idx >= 1
        )
        SELECT CAST(idx AS BIGINT) AS idx, x, forecast, abs_err,
               (SELECT ROUND(SUM(abs_err), 6) FROM bt) AS mae
        FROM bt
    """,
)
def events_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double exponential smoothing) one-step-ahead
    backtest over the daily event-count series — the level+trend
    forecaster between seasonal-naive (events_snaive_backtest, no
    smoothing) and full Holt-Winters: l_t = a*x_t + (1-a)(l_t-1 +
    b_t-1), b_t = B(l_t - l_t-1) + (1-B) b_t-1, forecast f_t =
    l_t-1 + b_t-1, initialized l_0 = x_0, b_0 = x_1 - x_0. Emits the
    per-day forecast, absolute error, and the MAE that model
    selection thresholds on.

    Determinism: the smoothing recursion is SEQUENTIAL by definition
    — both engines run the identical IEEE double chain in the same
    order (DuckDB via a recursive CTE, Spark via the O(days) driver
    recursion below), all literals forced to DOUBLE on both sides
    (the DuckDB decimal-parse gotcha), so every forecast double is
    bit-identical before its floor-half-up 6dp display rounding.

    Scale: the data-plane work is the daily groupBy; the recursion
    runs on the driver over the BOUNDED zero-filled series (the
    corpus_bpe_train model-state discipline — O(days) scalars, never
    row data), and the forecast relation broadcasts back onto the
    daily aggregate for the error columns."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("d")
    )
    m = ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = m.select(
        F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias("idx")
    )
    c = (
        ev.crossJoin(F.broadcast(m))
        .select(F.datediff("d", "d0").alias("idx"))
        .groupBy("idx")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    x = (
        grid.join(c, "idx", "left")
        .select("idx", F.coalesce("x", F.lit(0)).alias("x"))
    )
    # bounded driver model state: the zero-filled daily series
    series = sorted((r["idx"], r["x"]) for r in x.collect())
    a, bb = _HOLT_ALPHA, _HOLT_BETA
    xs = [float(v) for _i, v in series]
    l, b = xs[0], xs[1] - xs[0]
    fc = []  # (idx, forecast) for idx >= 1
    for t in range(1, len(xs)):
        f = l + b
        l_new = a * xs[t] + (1 - a) * (l + b)
        b_new = bb * (l_new - l) + (1 - bb) * b
        fc.append((t, f))
        l, b = l_new, b_new
    fdf = F.broadcast(
        x.sparkSession.createDataFrame(fc, "idx int, f double")
    )
    bt = (
        x.join(fdf, "idx")
        .select(
            F.col("idx").cast("long").alias("idx"),
            "x",
            (F.floor(F.lit(1000000.0) * F.col("f") + 0.5) / 1000000.0)
            .alias("forecast"),
            (
                F.floor(
                    F.lit(1000000.0)
                    * F.abs(F.col("x").cast("double") - F.col("f"))
                    + 0.5
                )
                / 1000000.0
            ).alias("abs_err"),
        )
    )
    mae = bt.agg(F.round(F.sum("abs_err"), 6).alias("mae"))
    return bt.crossJoin(F.broadcast(mae))


@query(
    "stats_kendall_tau",
    oracle=f"""
        WITH {_DAILY_EVENTS_USERS_SQL},
        p AS (
            SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                        THEN 1 ELSE 0 END AS conc,
                   CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                        THEN 1 ELSE 0 END AS disc,
                   CASE WHEN a.x = b.x AND a.y <> b.y
                        THEN 1 ELSE 0 END AS tx,
                   CASE WHEN a.y = b.y AND a.x <> b.x
                        THEN 1 ELSE 0 END AS ty
            FROM daily a JOIN daily b ON a.d < b.d
        ),
        s AS (
            SELECT CAST(SUM(conc) AS BIGINT) AS c,
                   CAST(SUM(disc) AS BIGINT) AS d,
                   CAST(SUM(tx) AS BIGINT) AS tx,
                   CAST(SUM(ty) AS BIGINT) AS ty
            FROM p
        )
        SELECT c AS concordant, d AS discordant,
               tx AS ties_x_only, ty AS ties_y_only,
               FLOOR(1000000.0 * (c - d)
                     / (sqrt(CAST(c + d + tx AS DOUBLE))
                        * sqrt(CAST(c + d + ty AS DOUBLE)))
                     + 0.5) / 1000000.0 AS tau_b
        FROM s
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily event volume and daily active
    users — the pairwise-concordance rank correlation that pairs
    with Spearman (stats_spearman_daily): tau counts ORDER
    relationships directly (concordant minus discordant pairs), so
    it is the statistic behind Theil-Sen's median slope and degrades
    more gracefully under ties than Spearman's rank moments. The
    tie-aware tau-b denominator excludes double-ties exactly:
    every cell (C, D, x-only ties, y-only ties) is an exact integer
    pair count; the only floats are the two sqrts of the final
    display expression, floor-half-up at 6dp on both engines.

    Scale: the pair join is over the O(days) daily AGGREGATE
    relation (the Theil-Sen bounded C(days,2) fan-out), never over
    events; the data-plane cost is one daily groupBy."""
    daily = _daily_events_users(spark, sf_dir)
    a = daily.select(
        F.col("d").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    sgn = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    s = (
        # broadcast the bounded O(days) side: the non-equi pair join
        # must plan BNLJ-over-an-aggregate, never CartesianProduct
        a.join(F.broadcast(b), F.col("da") < F.col("db"))
        .agg(
            F.sum(F.when(sgn > 0, 1).otherwise(0)).alias("c"),
            F.sum(F.when(sgn < 0, 1).otherwise(0)).alias("d"),
            F.sum(
                F.when(
                    (F.col("xa") == F.col("xb"))
                    & (F.col("ya") != F.col("yb")),
                    1,
                ).otherwise(0)
            ).alias("tx"),
            F.sum(
                F.when(
                    (F.col("ya") == F.col("yb"))
                    & (F.col("xa") != F.col("xb")),
                    1,
                ).otherwise(0)
            ).alias("ty"),
        )
    )
    return s.select(
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("tx").alias("ties_x_only"),
        F.col("ty").alias("ties_y_only"),
        (
            F.floor(
                F.lit(1000000.0)
                * (F.col("c") - F.col("d"))
                / (
                    F.sqrt((F.col("c") + F.col("d") + F.col("tx")).cast("double"))
                    * F.sqrt((F.col("c") + F.col("d") + F.col("ty")).cast("double"))
                )
                + 0.5
            )
            / 1000000.0
        ).alias("tau_b"),
    )


@query(
    "graph_hits_bipartite",
    oracle="""
        WITH e AS MATERIALIZED (
            SELECT DISTINCT o_custkey AS c, l_partkey AS p
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        a1 AS MATERIALIZED (
            SELECT p, CAST(COUNT(*) AS DOUBLE) AS a FROM e GROUP BY 1),
        am1 AS (SELECT MAX(a) AS m FROM a1),
        a1n AS (SELECT p, ROUND(a / (SELECT m FROM am1), 9) AS a FROM a1),
        h1 AS MATERIALIZED (
            SELECT c, ROUND(SUM(a), 9) AS h
            FROM e JOIN a1n USING (p) GROUP BY 1
        ),
        hm1 AS (SELECT MAX(h) AS m FROM h1),
        h1n AS (SELECT c, ROUND(h / (SELECT m FROM hm1), 9) AS h FROM h1),
        a2 AS MATERIALIZED (
            SELECT p, ROUND(SUM(h), 9) AS a
            FROM e JOIN h1n USING (c) GROUP BY 1
        ),
        am2 AS (SELECT MAX(a) AS m FROM a2),
        nb AS (SELECT p, COUNT(*) AS n_buyers FROM e GROUP BY 1)
        SELECT a2.p AS l_partkey,
               nb.n_buyers,
               ROUND(ROUND(a2.a / (SELECT m FROM am2), 9), 6) AS authority
        FROM a2 JOIN nb ON nb.p = a2.p
    """,
)
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM 1999) on the
    customer->part purchase bipartite graph: customers are hubs, parts
    are authorities, and two alternating power-iteration rounds
    propagate scores across the edge relation —

        a(p) = SUM_{c->p} h(c);   h(c) = SUM_{c->p} a(p)

    with max-normalization and 9dp state rounding per round (the
    pagerank/kmeans pinned-state float discipline), so the oracle's
    unrolled CTE replay matches bit-for-bit. A part bought by many
    high-hub customers (broad, heavy buyers) outranks one with the
    same raw degree bought by narrow accounts — the second centrality
    family next to PageRank (``corpus_graph_pagerank``) and the PPR
    seeds (``graph_ppr_seeds``).

    Scale: the edge relation comes from ONE fact-fact equi-join
    (orders x lineitem on orderkey, both sides hash-partitioned), and
    each half-round is one equi-join + one key-keyed sum over it —
    no all-pairs anywhere; the max-normalizers are 1-row aggregates
    broadcast back (bounded model state). Reference: no joins at all
    (SURVEY.md §2.4 ABSENT)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    # r11: keep the raw count alongside its double cast — n_buyers
    # below derives from this cached relation instead of re-scanning
    # the edge relation through a second identical groupBy(p) exchange
    a1 = e.groupBy("p").agg(
        F.count(F.lit(1)).alias("cnt")
    ).select(
        "p", "cnt", F.col("cnt").cast("double").alias("a")
    ).persist()
    am1 = a1.agg(F.max("a").alias("m"))
    a1n = a1.crossJoin(F.broadcast(am1)).select(
        "p", F.round(F.col("a") / F.col("m"), 9).alias("a")
    )
    h1 = (
        e.join(a1n, "p")
        .groupBy("c")
        .agg(F.round(F.sum("a"), 9).alias("h"))
        .persist()
    )
    hm1 = h1.agg(F.max("h").alias("m"))
    h1n = h1.crossJoin(F.broadcast(hm1)).select(
        "c", F.round(F.col("h") / F.col("m"), 9).alias("h")
    )
    a2 = (
        e.join(h1n, "c")
        .groupBy("p")
        .agg(F.round(F.sum("h"), 9).alias("a"))
        .persist()
    )
    am2 = a2.agg(F.max("a").alias("m"))
    nb = a1.select("p", F.col("cnt").alias("n_buyers"))
    return (
        a2.crossJoin(F.broadcast(am2))
        .join(nb, "p")
        .select(
            F.col("p").alias("l_partkey"),
            "n_buyers",
            F.round(F.round(F.col("a") / F.col("m"), 9), 6).alias(
                "authority"
            ),
        )
    )


@query(
    "data_group_split_audit",
    oracle="""
        WITH ev AS (SELECT event_id, user_id FROM events),
        ua AS (
            SELECT user_id,
                   CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))
                             ::BIGINT % 10 < 8 THEN 'train'
                        WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))
                             ::BIGINT % 10 = 8 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT DISTINCT user_id FROM ev)
        ),
        assigned AS (SELECT e.event_id, e.user_id, u.split
                     FROM ev e JOIN ua u USING (user_id)),
        tot AS (SELECT COUNT(*) AS n FROM assigned),
        leak_g AS (
            SELECT COUNT(*) AS n FROM (
                SELECT user_id FROM assigned
                GROUP BY user_id HAVING COUNT(DISTINCT split) > 1
            )
        ),
        naive AS (
            SELECT user_id,
                   CASE WHEN ('0x' || substr(md5(event_id::VARCHAR), 1, 8))
                             ::BIGINT % 10 < 8 THEN 'train'
                        WHEN ('0x' || substr(md5(event_id::VARCHAR), 1, 8))
                             ::BIGINT % 10 = 8 THEN 'val'
                        ELSE 'test' END AS split
            FROM ev
        ),
        leak_n AS (
            SELECT COUNT(*) AS n FROM (
                SELECT user_id FROM naive
                GROUP BY user_id HAVING COUNT(DISTINCT split) > 1
            )
        )
        SELECT a.split,
               COUNT(DISTINCT a.user_id) AS n_users,
               COUNT(*) AS n_events,
               ROUND(COUNT(*) * 1.0 / (SELECT n FROM tot), 6)
                   AS event_share,
               (SELECT n FROM leak_g) AS leaky_users_grouped,
               (SELECT n FROM leak_n) AS leaky_users_naive
        FROM assigned a
        GROUP BY a.split
    """,
)
def data_group_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/val/test split — the leakage-free assignment
    contract for entity-correlated data: the split is a deterministic
    hash of the GROUP key (md5(user_id) % 10 -> 80/10/10), so every
    event of a user lands in the same split, any worker reproduces
    any row's assignment without a lookup table, and the audit proves
    it: ``leaky_users_grouped`` (users straddling splits under the
    group hash) must be 0, while ``leaky_users_naive`` — the same
    census under the WRONG, row-level hash of event_id — is large,
    quantifying exactly the cross-split contamination the group key
    prevents. The per-split user/event census + event share document
    the realized ratios (group splitting trades exact 80/10/10 on
    rows for zero leakage; the drift is the report's point).

    Scale: one distinct-user aggregate, one group-keyed equi-join to
    fan the assignment back over events, and two HAVING-filtered
    aggregates — all hash-partitioned on user_id; nothing all-pairs,
    no driver state. The naive-leak branch shares the events scan."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id")

    def split_of(col):
        h = (
            F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 10
        )
        return (
            F.when(h < 8, "train").when(h == 8, "val").otherwise("test")
        )

    ua = ev.select("user_id").distinct().select(
        "user_id", split_of(F.col("user_id")).alias("split")
    )
    assigned = ev.join(ua, "user_id").persist()
    tot = assigned.agg(F.count(F.lit(1)).alias("n"))
    leak_g = (
        assigned.groupBy("user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("leak_g"))
    )
    leak_n = (
        ev.select("user_id", split_of(F.col("event_id")).alias("split"))
        .groupBy("user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("leak_n"))
    )
    per = assigned.groupBy("split").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leak_g))
        .crossJoin(F.broadcast(leak_n))
        .select(
            "split",
            "n_users",
            "n_events",
            F.round(F.col("n_events") * 1.0 / F.col("n"), 6).alias(
                "event_share"
            ),
            F.col("leak_g").alias("leaky_users_grouped"),
            F.col("leak_n").alias("leaky_users_naive"),
        )
    )


@query(
    "pipeline_entity_resolution",
    oracle=f"""
        WITH RECURSIVE {_TYPO_NAME_SOURCES_SQL},
        r AS (
            SELECT *, row_number() OVER (ORDER BY name, src, orig) AS rk
            FROM u
        ),
        mp AS (
            SELECT x.rk AS ra, y.rk AS rb
            FROM r x JOIN r y ON y.rk - x.rk BETWEEN 1 AND {{w}}
            WHERE substr(x.name, 1, 4) = substr(y.name, 1, 4)
              AND right(x.name, 4) = right(y.name, 4)
        ),
        edges AS (SELECT ra AS eu, rb AS ev FROM mp
                  UNION SELECT rb, ra FROM mp),
        enodes AS (SELECT DISTINCT eu AS n FROM edges),
        reach(n, m) AS (
            SELECT n, n FROM enodes
            UNION
            SELECT t.n, e.ev FROM reach t JOIN edges e ON e.eu = t.m
        ),
        comp AS (SELECT n AS rk, MIN(m) AS component FROM reach GROUP BY n),
        lab AS (
            SELECT r.rk, r.name, r.src, r.orig,
                   COALESCE(c.component, r.rk) AS component
            FROM r LEFT JOIN comp c ON c.rk = r.rk
        ),
        canon AS (
            SELECT component, name AS canonical_name,
                   ROW_NUMBER() OVER (
                       PARTITION BY component
                       ORDER BY length(name) DESC, rk
                   ) AS cn
            FROM lab
        )
        SELECT l.component,
               COUNT(*) AS n_records,
               COUNT(DISTINCT l.src) AS n_sources,
               COUNT(DISTINCT l.orig) AS n_origs,
               COUNT(DISTINCT l.orig) = 1 AS is_pure,
               MIN(k.canonical_name) AS canonical_name
        FROM lab l
        JOIN canon k ON k.component = l.component AND k.cn = 1
        GROUP BY l.component
    """.format(w=8),
)
def pipeline_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END entity resolution — the merge/purge pipeline the
    linkage queries provide pieces of, composed: (1) BLOCK by
    sorted-neighborhood over the distributed global rank (window 8,
    the O(n·w) skew-immune candidate set), (2) MATCH by the
    deterministic prefix4+suffix4 agreement rule (the strongest FS
    features from ``linkage_fellegi_sunter``'s learned weight table),
    (3) CLUSTER matched pairs with large-star/small-star connected
    components, singletons keeping their own record id, and
    (4) SURVIVORSHIP: each cluster elects a canonical record (longest
    name, ties to smallest rank — the most-complete-value rule). The
    census reports cluster size, source coverage, and purity against
    the planted ground truth (each part name + its one-char-deleted
    corruption): is_pure=false rows quantify blocking/rule
    over-merging, exactly what an ER evaluation publishes.

    Scale: global rank is the two-pass range-partitioned ranking (no
    single-partition window), candidates are a bucketized integer
    band join, components are O(log n) star-contraction rounds, and
    survivorship is one window over clusters — nothing all-pairs.
    Oracle: recursive transitive closure replays the same clusters;
    the whole pipeline is hash-verified end to end."""
    from spark_query_engine.operators import linkage as L

    u = _typo_name_sources(spark, sf_dir)
    ranked = L.global_rank(
        u,
        ["name", "src", "orig"],
        rank_col="rk",
        rows_hint=2 * footer_rows(spark, sf_dir, "part"),
    )
    # duplicate the rank into a payload column: sorted_neighborhood_
    # pairs keeps every column EXCEPT the rank it bands on. Lazy
    # persist, not eager localCheckpoint (r9 — the r8 driver-run
    # regression adjudication): everything past global_rank's internal
    # checkpoint is deterministic, so the three consumers (both band-
    # join sides, the label join) share the cache populated by the
    # final action instead of paying a separate materialization job.
    ranked = ranked.withColumn("rid", F.col("rk")).persist()
    pairs = L.sorted_neighborhood_pairs(ranked, 8, rank_col="rk")
    matched = pairs.where(
        (F.substring("a_name", 1, 4) == F.substring("b_name", 1, 4))
        & (F.expr("right(a_name, 4)") == F.expr("right(b_name, 4)"))
    ).select(F.col("a_rid").alias("id_a"), F.col("b_rid").alias("id_b"))
    cc = D.connected_components(matched)
    lab = ranked.join(
        cc.withColumnRenamed("id", "rid"), "rid", "left"
    ).select(
        "rid",
        "name",
        "src",
        "orig",
        F.coalesce("component", F.col("rid")).alias("component"),
    )
    wc = Window.partitionBy("component").orderBy(
        F.length("name").desc(), "rid"
    )
    canon = (
        lab.withColumn("cn", F.row_number().over(wc))
        .where(F.col("cn") == 1)
        .select("component", F.col("name").alias("canonical_name"))
    )
    census = lab.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("src").alias("n_sources"),
        F.countDistinct("orig").alias("n_origs"),
    )
    return release_on_drop(
        census.join(canon, "component").select(
            "component",
            "n_records",
            "n_sources",
            "n_origs",
            (F.col("n_origs") == 1).alias("is_pure"),
            "canonical_name",
        ),
        ranked,
    )


@query(
    "data_compaction_plan",
    oracle="""
        WITH files AS (
            SELECT source, lang,
                   CAST(SUM(n_chars) AS BIGINT) AS bytes,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(SUM(bytes) AS BIGINT) AS total FROM files),
        tgt AS (SELECT (total + 15) // 16 AS target FROM tot),
        planned AS (
            SELECT source, lang, bytes,
                   COALESCE(SUM(bytes) OVER (
                       ORDER BY bytes DESC, source, lang
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS prev_cum
            FROM files
        )
        SELECT CAST(prev_cum // (SELECT target FROM tgt) AS BIGINT)
                   AS bin_id,
               COUNT(*) AS n_files,
               CAST(SUM(bytes) AS BIGINT) AS total_bytes,
               MAX(bytes) AS max_file_bytes,
               MIN(bytes) AS min_file_bytes,
               ROUND(SUM(bytes) * 1.0 / (SELECT target FROM tgt), 6)
                   AS fill_ratio
        FROM planned
        GROUP BY 1
    """,
)
def data_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION planning — the OPTIMIZE/rewrite step every
    lakehouse table needs: treat each (source, lang) partition as one
    "file" of SUM(n_chars) bytes, size the compaction target at
    total/16 (integer arithmetic, engine-identical), and assign files
    to output bins by the sorted-cumulative rule — order by (size
    DESC, key), bin = floor(preceding-cumsum / target): big files
    first, every bin filled to >= target before the next opens (one
    file may overflow a bin — the standard bound for deterministic
    one-pass packing; `corpus_token_packing` is the same shape on the
    row plane). The census per bin (file count, byte mass, fill
    ratio) is the compaction job's manifest: ~100 input files collapse
    into 16 target-sized outputs.

    Scale: the window runs on the FILE CATALOG relation — O(files),
    aggregated metadata, orders of magnitude below the data plane (a
    100 TB table's manifest is MBs); the data-plane work is one
    hash aggregate. The 1-row total/target aggregate broadcasts into
    the catalog relation (bounded-BNLJ class)."""
    docs = load(spark, sf_dir, "documents")
    files = docs.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("bigint").alias("bytes"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tot = files.agg(F.sum("bytes").cast("bigint").alias("total"))
    tgt = tot.select(F.expr("(total + 15) div 16").alias("target"))
    w = (
        Window.orderBy(F.col("bytes").desc(), "source", "lang")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.select(
        "source",
        "lang",
        "bytes",
        F.coalesce(F.sum("bytes").over(w), F.lit(0)).alias("prev_cum"),
    )
    return (
        planned.crossJoin(F.broadcast(tgt))
        .groupBy(
            F.expr("prev_cum div target").cast("bigint").alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
            F.max("bytes").alias("max_file_bytes"),
            F.min("bytes").alias("min_file_bytes"),
            F.round(
                F.sum("bytes") * 1.0 / F.first("target"), 6
            ).alias("fill_ratio"),
        )
    )


def _perceptron_feature_sql() -> str:
    return """
        f AS (
            SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
                   CAST(1 AS BIGINT) AS x1,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS x2,
                   CAST(n_chars AS BIGINT) AS x3,
                   CAST(length(text) - length(replace(text, 'e', ''))
                        AS BIGINT) AS x4
            FROM documents
        )
    """


def _perceptron_oracle(rounds: int = 3) -> str:
    """Unrolled batch-perceptron rounds: w0 = 0 so round 1 updates on
    every row; later rounds update where y*(w·x) <= 0. Pure BIGINT
    arithmetic end to end."""
    ctes = [
        """w1 AS (
            SELECT SUM(y*x1) AS s1, SUM(y*x2) AS s2,
                   SUM(y*x3) AS s3, SUM(y*x4) AS s4
            FROM f
        )"""
    ]
    for t in range(2, rounds + 1):
        ctes.append(
            f"""w{t} AS (
            SELECT w.s1 + SUM(CASE WHEN y*(w.s1*x1 + w.s2*x2 + w.s3*x3
                                          + w.s4*x4) <= 0
                                   THEN y*x1 ELSE 0 END) AS s1,
                   w.s2 + SUM(CASE WHEN y*(w.s1*x1 + w.s2*x2 + w.s3*x3
                                          + w.s4*x4) <= 0
                                   THEN y*x2 ELSE 0 END) AS s2,
                   w.s3 + SUM(CASE WHEN y*(w.s1*x1 + w.s2*x2 + w.s3*x3
                                          + w.s4*x4) <= 0
                                   THEN y*x3 ELSE 0 END) AS s3,
                   w.s4 + SUM(CASE WHEN y*(w.s1*x1 + w.s2*x2 + w.s3*x3
                                          + w.s4*x4) <= 0
                                   THEN y*x4 ELSE 0 END) AS s4
            FROM f CROSS JOIN w{t-1} w
            GROUP BY w.s1, w.s2, w.s3, w.s4
        )"""
        )
    return ",\n        ".join(ctes)


@query(
    "corpus_perceptron_probe",
    oracle=f"""
        WITH {_perceptron_feature_sql().strip()},
        {_perceptron_oracle(3)}
        SELECT CAST(w.s1 AS BIGINT) AS w_bias,
               CAST(w.s2 AS BIGINT) AS w_tokens,
               CAST(w.s3 AS BIGINT) AS w_chars,
               CAST(w.s4 AS BIGINT) AS w_echar,
               CAST(SUM(CASE WHEN y*(w.s1*x1 + w.s2*x2 + w.s3*x3
                                     + w.s4*x4) <= 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
               COUNT(*) AS n_rows,
               ROUND(SUM(CASE WHEN y*(w.s1*x1 + w.s2*x2 + w.s3*x3
                                      + w.s4*x4) <= 0
                              THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
                   AS error_rate
        FROM f CROSS JOIN w3 w
        GROUP BY w.s1, w.s2, w.s3, w.s4
    """,
)
def corpus_perceptron_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML TRAINING AS AGGREGATION, exactly: three rounds of the BATCH
    perceptron (Rosenblatt's update summed over the current error set,
    w' = w + Σ_err y·x) on integer text features (bias, token count,
    char count, 'e'-frequency — a crude is-it-English probe), with the
    weight vector living on the DRIVER as 4 BIGINTs (the BPE-merge /
    k-means-centroid bounded-model-state discipline) and each round
    ONE conditional aggregation over the corpus. Every operation is
    INTEGER — labels ±1, features counts, margins exact products — so
    the trained weights, the final error census, and the oracle's
    unrolled 3-round replay agree bit-for-bit: a hash-verified
    distributed training loop, the property float GD can never give
    the gate.

    The linguistics is deliberately naive (linearly-inseparable data;
    the audit REPORTS the realized error rate rather than promising
    convergence) — the contract under test is the distributed shape:
    per round, one scan + one 4-long aggregate crossing to the
    driver; nothing row-scaled leaves the executors; 100 TB changes
    the scan time, not the model state or the round count."""
    docs = load(spark, sf_dir, "documents")
    f = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
        F.lit(1).cast("bigint").alias("x1"),
        F.size(F.split("text", " ")).cast("bigint").alias("x2"),
        F.col("n_chars").cast("bigint").alias("x3"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("e"), F.lit("")))
        )
        .cast("bigint")
        .alias("x4"),
    ).persist()
    w = [0, 0, 0, 0]
    for _ in range(3):
        margin = F.col("y") * sum(
            F.lit(int(w[i])) * F.col(f"x{i+1}") for i in range(4)
        )
        upd = F.when(margin <= 0, F.col("y")).otherwise(F.lit(0))
        delta = f.agg(
            *[
                F.sum(upd * F.col(f"x{i+1}")).alias(f"d{i+1}")
                for i in range(4)
            ]
        ).collect()[0]  # 4 longs — bounded driver model state
        w = [w[i] + int(delta[f"d{i+1}"]) for i in range(4)]
    margin = F.col("y") * sum(
        F.lit(int(w[i])) * F.col(f"x{i+1}") for i in range(4)
    )
    out = f.agg(
        F.sum(F.when(margin <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        F.lit(w[0]).cast("bigint").alias("w_bias"),
        F.lit(w[1]).cast("bigint").alias("w_tokens"),
        F.lit(w[2]).cast("bigint").alias("w_chars"),
        F.lit(w[3]).cast("bigint").alias("w_echar"),
        "n_errors",
        "n_rows",
        F.round(F.col("n_errors") * 1.0 / F.col("n_rows"), 6).alias(
            "error_rate"
        ),
    )
    f.unpersist()
    return out


#: DuckDB twin of ``_user_day_events``.
_USER_DAY_EVENTS_SQL = f"""ev AS (
            SELECT user_id, event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS d
            FROM ({EVENTS_ORACLE}) e
        )"""


def _user_day_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_type, d): every event at day grain."""
    return load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("d"),
    )


def _first_and_purchase_day(ev: DataFrame) -> DataFrame:
    """(user_id, first_day, purch_day) over ``_user_day_events``: a
    user's first active day and first purchase day (NULL if none)."""
    return ev.groupBy("user_id").agg(
        F.min("d").alias("first_day"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("d"))
        ).alias("purch_day"),
    )


@query(
    "events_survival_km",
    oracle=f"""
        WITH RECURSIVE {_USER_DAY_EVENTS_SQL},
        gm AS (SELECT MAX(d) AS dmax FROM ev),
        pu AS (
            SELECT user_id,
                   MIN(d) AS first_day,
                   MIN(CASE WHEN event_type = 'purchase' THEN d END)
                       AS purch_day
            FROM ev GROUP BY 1
        ),
        subj AS (
            SELECT CASE WHEN purch_day IS NOT NULL
                        THEN DATEDIFF('day', first_day, purch_day)
                        ELSE DATEDIFF('day', first_day,
                                      (SELECT dmax FROM gm)) END AS dur,
                   CASE WHEN purch_day IS NOT NULL THEN 1 ELSE 0 END
                       AS ev_flag
            FROM pu
        ),
        rt0 AS (
            SELECT dur,
                   CAST(SUM(ev_flag) AS BIGINT) AS d,
                   CAST(SUM(1 - ev_flag) AS BIGINT) AS c
            FROM subj GROUP BY 1
        ),
        rt AS (
            SELECT dur, d, c,
                   CAST((SELECT SUM(d + c) FROM rt0)
                        - COALESCE(SUM(d + c) OVER (
                              ORDER BY dur
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0)
                        AS BIGINT) AS n,
                   ROW_NUMBER() OVER (ORDER BY dur) AS rn
            FROM rt0
        ),
        km(rn, s) AS (
            SELECT 0, CAST(1.0 AS DOUBLE)
            UNION ALL
            SELECT km.rn + 1,
                   km.s * (CAST(1.0 AS DOUBLE)
                           - CAST(rt.d AS DOUBLE) / rt.n)
            FROM km JOIN rt ON rt.rn = km.rn + 1
        )
        SELECT CAST(rt.dur AS BIGINT) AS duration_days,
               rt.n AS n_risk,
               rt.d AS n_events,
               rt.c AS n_censored,
               FLOOR(1000000.0 * km.s + 0.5) / 1000000.0 AS survival
        FROM rt JOIN km ON km.rn = rt.rn
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival estimation of time-to-first-purchase with
    RIGHT CENSORING — the correct answer to "how long until users
    convert" when most users have not converted yet (dropping them
    biases the naive average; KM keeps them in the risk set until
    their last observed day): per duration day, the risk table
    (n at risk, events, censored) and the product-limit curve
    S(t) = prod_{s<=t} (1 - d_s/n_s).

    Determinism: the product chain is SEQUENTIAL by definition — both
    engines run the identical IEEE multiply chain over the BOUNDED
    O(days) risk table (DuckDB via a recursive CTE, Spark via the
    Holt-backtest driver recursion), each factor a double quotient of
    exact integers, floor-half-up 6dp only at display. The risk table
    itself is all-integer (hash-exact).

    Scale: the data plane is two user-keyed aggregates (first event,
    first purchase); everything after runs on the O(days) risk table
    — driver state is that bounded table, the corpus_bpe_train
    discipline. The global cumsum window also runs on it (bounded
    metadata, never events)."""
    ev = _user_day_events(spark, sf_dir)
    gm = ev.agg(F.max("d").alias("dmax"))
    pu = _first_and_purchase_day(ev)
    subj = pu.crossJoin(F.broadcast(gm)).select(
        F.when(
            F.col("purch_day").isNotNull(),
            F.datediff("purch_day", "first_day"),
        )
        .otherwise(F.datediff("dmax", "first_day"))
        .alias("dur"),
        F.when(F.col("purch_day").isNotNull(), 1).otherwise(0).alias(
            "ev_flag"
        ),
    )
    rt0 = subj.groupBy("dur").agg(
        F.sum("ev_flag").cast("bigint").alias("d"),
        F.sum(1 - F.col("ev_flag")).cast("bigint").alias("c"),
    )
    tot = rt0.agg(F.sum(F.col("d") + F.col("c")).alias("total"))
    w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    rt = (
        rt0.crossJoin(F.broadcast(tot))
        .select(
            "dur",
            "d",
            "c",
            (
                F.col("total")
                - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w), F.lit(0))
            )
            .cast("bigint")
            .alias("n"),
        )
    )
    # bounded driver model state: the O(days) risk table drives the
    # sequential product-limit chain (the Holt-backtest discipline)
    rows = sorted(
        (r["dur"], r["d"], r["n"]) for r in rt.select("dur", "d", "n").collect()
    )
    s = 1.0
    surv = []
    for dur, d, n in rows:
        s = s * (1.0 - float(d) / n)
        surv.append((int(dur), s))
    sdf = F.broadcast(
        rt.sparkSession.createDataFrame(surv, "dur long, s double")
    )
    return rt.join(sdf, "dur").select(
        F.col("dur").cast("bigint").alias("duration_days"),
        F.col("n").alias("n_risk"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        (F.floor(F.lit(1000000.0) * F.col("s") + 0.5) / 1000000.0).alias(
            "survival"
        ),
    )


@query(
    "stats_logrank_cohorts",
    oracle=f"""
        WITH RECURSIVE {_USER_DAY_EVENTS_SQL},
        gm AS (SELECT MAX(d) AS dmax FROM ev),
        pu AS (
            SELECT user_id,
                   MIN(d) AS first_day,
                   MIN(CASE WHEN event_type = 'purchase' THEN d END)
                       AS purch_day,
                   CAST(user_id % 2 AS BIGINT) AS grp
            FROM ev GROUP BY 1, user_id % 2
        ),
        subj AS (
            SELECT grp,
                   CASE WHEN purch_day IS NOT NULL
                        THEN DATEDIFF('day', first_day, purch_day)
                        ELSE DATEDIFF('day', first_day,
                                      (SELECT dmax FROM gm)) END AS dur,
                   CASE WHEN purch_day IS NOT NULL THEN 1 ELSE 0 END
                       AS ev_flag
            FROM pu
        ),
        rt0 AS (
            SELECT dur,
                   CAST(SUM(CASE WHEN grp = 1 THEN ev_flag
                                 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(SUM(CASE WHEN grp = 0 THEN ev_flag
                                 ELSE 0 END) AS BIGINT) AS d0,
                   CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS a1,
                   CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS a0
            FROM rt0_subj GROUP BY 1
        ),
        rt0_subj AS (SELECT * FROM subj),
        rt AS (
            SELECT dur, d1, d0, d1 + d0 AS d,
                   CAST((SELECT SUM(a1) FROM rt0)
                        - COALESCE(SUM(a1) OVER (
                              ORDER BY dur
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0)
                        AS BIGINT) AS n1,
                   CAST((SELECT SUM(a0) FROM rt0)
                        - COALESCE(SUM(a0) OVER (
                              ORDER BY dur
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0)
                        AS BIGINT) AS n0,
                   ROW_NUMBER() OVER (ORDER BY dur) AS rn
            FROM rt0
        ),
        acc(rn, e1, v) AS (
            SELECT 0, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
            UNION ALL
            SELECT acc.rn + 1,
                   acc.e1 + CAST(rt.n1 AS DOUBLE) * rt.d
                            / (rt.n1 + rt.n0),
                   acc.v + CASE WHEN rt.n1 + rt.n0 > 1
                                THEN CAST(rt.n1 AS DOUBLE) * rt.n0
                                     * rt.d * (rt.n1 + rt.n0 - rt.d)
                                     / (CAST(rt.n1 + rt.n0 AS DOUBLE)
                                        * (rt.n1 + rt.n0)
                                        * (rt.n1 + rt.n0 - 1))
                                ELSE CAST(0.0 AS DOUBLE) END
            FROM acc JOIN rt ON rt.rn = acc.rn + 1
        ),
        fin AS (
            SELECT e1, v FROM acc
            WHERE rn = (SELECT MAX(rn) FROM rt)
        )
        SELECT (SELECT CAST(SUM(d1) AS BIGINT) FROM rt0) AS observed_1,
               (SELECT CAST(SUM(d0) AS BIGINT) FROM rt0) AS observed_0,
               FLOOR(1000000.0 * e1 + 0.5) / 1000000.0 AS expected_1,
               FLOOR(1000000.0 * v + 0.5) / 1000000.0 AS variance,
               FLOOR(1000000.0
                     * (((SELECT SUM(d1) FROM rt0) - e1)
                        * ((SELECT SUM(d1) FROM rt0) - e1) / v)
                     + 0.5) / 1000000.0 AS chi2
        FROM fin
    """,
)
def stats_logrank_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST between two conversion-survival cohorts — the
    hypothesis test that belongs on top of the ``events_survival_km``
    curve, run here as the A/A NEGATIVE CONTROL every experimentation
    platform ships: cohorts are a deterministic user_id-parity split,
    so the null of identical hazards is TRUE by construction and a
    large chi-square would indict the harness itself (assignment
    imbalance, risk-set bookkeeping), not the users. At every
    duration day, compare observed group-1 events d1 against the
    expectation n1*d/n under the null, folding the per-day (O-E) and
    hypergeometric variance terms into the 1-df chi-square.

    Determinism: the risk table is all-integer (the KM audit); the
    E and V accumulations are SEQUENTIAL float chains over the
    bounded O(days) table — recursive CTE on DuckDB, driver loop on
    Spark, identical IEEE order, floor-half-up 6dp at display only.

    Scale: identical cost model to events_survival_km — two
    user-keyed aggregates on the data plane, everything else on the
    bounded risk table."""
    ev = _user_day_events(spark, sf_dir)
    gm = ev.agg(F.max("d").alias("dmax"))
    pu = _first_and_purchase_day(ev)
    pu = pu.withColumn("grp", (F.col("user_id") % 2).cast("bigint"))
    subj = pu.crossJoin(F.broadcast(gm)).select(
        "grp",
        F.when(
            F.col("purch_day").isNotNull(),
            F.datediff("purch_day", "first_day"),
        )
        .otherwise(F.datediff("dmax", "first_day"))
        .alias("dur"),
        F.when(F.col("purch_day").isNotNull(), 1).otherwise(0).alias(
            "ev_flag"
        ),
    )
    rt0 = subj.groupBy("dur").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("ev_flag")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 0, F.col("ev_flag")).otherwise(0))
        .cast("bigint")
        .alias("d0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("a1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("a0"),
    )
    # bounded O(days) risk table → driver-side sequential E/V chains
    rows = sorted(
        (r["dur"], r["d1"], r["d0"], r["a1"], r["a0"])
        for r in rt0.collect()
    )
    tot1 = sum(r[3] for r in rows)
    tot0 = sum(r[4] for r in rows)
    o1 = sum(r[1] for r in rows)
    o0 = sum(r[2] for r in rows)
    n1, n0 = tot1, tot0
    e1 = 0.0
    v = 0.0
    for dur, d1, d0, a1, a0 in rows:
        d = d1 + d0
        n = n1 + n0
        e1 = e1 + float(n1) * d / n
        if n > 1:
            v = v + float(n1) * n0 * d * (n - d) / (float(n) * n * (n - 1))
        n1 -= a1
        n0 -= a0
    chi2 = (o1 - e1) * (o1 - e1) / v
    import math

    def fhu(x: float) -> float:
        return math.floor(1000000.0 * x + 0.5) / 1000000.0

    out = rt0.sparkSession.createDataFrame(
        [(int(o1), int(o0), fhu(e1), fhu(v), fhu(chi2))],
        "observed_1 long, observed_0 long, expected_1 double, "
        "variance double, chi2 double",
    )
    return out


@query(
    "stats_cuped_adjusted",
    oracle=f"""
        WITH ev AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
            FROM ({EVENTS_ORACLE}) e
        ),
        m AS (SELECT MIN(d) AS d0 FROM ev),
        u AS (
            SELECT user_id,
                   CAST(user_id % 2 AS BIGINT) AS arm,
                   CAST(SUM(CASE WHEN DATEDIFF('day',
                                               (SELECT d0 FROM m), d) < 15
                                 THEN 1 ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN DATEDIFF('day',
                                               (SELECT d0 FROM m), d) >= 15
                                 THEN 1 ELSE 0 END) AS BIGINT) AS y
            FROM ev GROUP BY 1, 2
        ),
        g AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x*x) AS BIGINT) AS sxx,
                   CAST(SUM(y*y) AS BIGINT) AS syy,
                   CAST(SUM(x*y) AS BIGINT) AS sxy
            FROM u
        ),
        q AS (
            SELECT n, sx, sy,
                   (CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy)
                       AS covn,
                   (CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx)
                       AS varxn,
                   (CAST(n AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy)
                       AS varyn
            FROM g
        ),
        a AS (
            SELECT arm, COUNT(*) AS n_users,
                   CAST(SUM(x) AS BIGINT) AS asx,
                   CAST(SUM(y) AS BIGINT) AS asy
            FROM u GROUP BY 1
        )
        SELECT a.arm,
               a.n_users,
               FLOOR(1000000.0 * a.asy / a.n_users + 0.5) / 1000000.0
                   AS mean_post,
               FLOOR(1000000.0
                     * (CAST(a.asy AS DOUBLE) / a.n_users
                        - (CAST(q.covn AS DOUBLE) / q.varxn)
                          * (CAST(a.asx AS DOUBLE) / a.n_users
                             - CAST(q.sx AS DOUBLE) / q.n))
                     + 0.5) / 1000000.0 AS cuped_mean_post,
               FLOOR(1000000.0 * q.covn / q.varxn + 0.5) / 1000000.0
                   AS theta,
               FLOOR(1000000.0
                     * (CAST(q.covn AS DOUBLE) * q.covn)
                       / (CAST(q.varxn AS DOUBLE) * q.varyn)
                     + 0.5) / 1000000.0 AS var_reduction
        FROM a CROSS JOIN q
    """,
)
def stats_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. WSDM 2013) — the variance-reduction estimator every large A/B
    platform applies before reading a metric: per user, the
    POST-period activity count is adjusted by theta times the
    PRE-period count (theta = cov(pre,post)/var(pre)), shrinking the
    metric's variance by the squared correlation (reported as
    ``var_reduction``) so the same experiment detects effects
    var_reduction-fraction sooner. Arms are the user_id-parity A/A
    split (no true effect — the adjusted means of the two arms should
    coincide more tightly than the raw means, which is the point).

    Determinism AND range: pre/post are INTEGER event counts, all
    moments are exact BIGINT sums (the covariance-matrix discipline);
    the n*Sxy-style moment products widen to exact 38-digit integers
    (DECIMAL(38,0)/HUGEINT — the r5g range rule) so they survive
    1e9-user populations; theta and every mean are single divisions
    of exact integers, floor-half-up 6dp at display — no float
    accumulates anywhere.

    Scale: one user-keyed count aggregate (data plane), one 6-long
    moment aggregate, one 2-row arm census; the moment/arm relations
    are bounded model state."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    )
    m = ev.agg(F.min("d").alias("d0"))
    u = (
        ev.crossJoin(F.broadcast(m))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.datediff("d", "d0") < 15, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.datediff("d", "d0") >= 15, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
        .withColumn("arm", (F.col("user_id") % 2).cast("bigint"))
        .persist()
    )
    g = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).cast("bigint").alias("sxy"),
    )
    d38 = "decimal(38,0)"
    q = g.select(
        "n",
        "sx",
        "sy",
        (
            F.col("n").cast(d38) * F.col("sxy")
            - F.col("sx").cast(d38) * F.col("sy")
        ).alias("covn"),
        (
            F.col("n").cast(d38) * F.col("sxx")
            - F.col("sx").cast(d38) * F.col("sx")
        ).alias("varxn"),
        (
            F.col("n").cast(d38) * F.col("syy")
            - F.col("sy").cast(d38) * F.col("sy")
        ).alias("varyn"),
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").cast("bigint").alias("asx"),
        F.sum("y").cast("bigint").alias("asy"),
    )

    def fhu(col):
        return F.floor(F.lit(1000000.0) * col + 0.5) / 1000000.0

    return a.crossJoin(F.broadcast(q)).select(
        "arm",
        "n_users",
        # mean_post / theta mirror the oracle's ASSOCIATION ORDER and
        # double arithmetic exactly — (1e6 * a) / b, all doubles — so
        # no decimal-division double-rounding or reassociation can
        # flip the 6dp floor on a boundary value.
        (
            F.floor(
                F.lit(1000000.0) * F.col("asy") / F.col("n_users") + 0.5
            )
            / 1000000.0
        ).alias("mean_post"),
        fhu(
            F.col("asy").cast("double") / F.col("n_users")
            - (F.col("covn").cast("double") / F.col("varxn"))
            * (
                F.col("asx").cast("double") / F.col("n_users")
                - F.col("sx").cast("double") / F.col("n")
            )
        ).alias("cuped_mean_post"),
        (
            F.floor(
                F.lit(1000000.0)
                * F.col("covn").cast("double")
                / F.col("varxn").cast("double")
                + 0.5
            )
            / 1000000.0
        ).alias("theta"),
        fhu(
            (F.col("covn").cast("double") * F.col("covn"))
            / (F.col("varxn").cast("double") * F.col("varyn"))
        ).alias("var_reduction"),
    )


@query(
    "stats_srm_check",
    oracle=f"""
        WITH u AS (
            SELECT DISTINCT user_id
            FROM ({EVENTS_ORACLE}) e
        ),
        a AS (
            SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE 1 END AS arm
            FROM u
        ),
        c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS obs0,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS obs1
            FROM a
        ),
        x AS (
            SELECT n, obs0, obs1,
                   FLOOR(1000000.0
                         * (CAST(CAST(3*obs0 - n AS HUGEINT)
                                 * (3*obs0 - n) AS DOUBLE)
                              / (3.0 * n)
                            + CAST(CAST(3*obs1 - 2*n AS HUGEINT)
                                   * (3*obs1 - 2*n)
                                   AS DOUBLE) / (6.0 * n))
                         + 0.5) / 1000000.0 AS chi2
            FROM c
        )
        SELECT n AS n_users, obs0 AS obs_0, obs1 AS obs_1,
               FLOOR(1000000.0 * n / 3.0 + 0.5) / 1000000.0
                   AS expected_0,
               chi2,
               CAST(CASE WHEN chi2 > CAST(3.841459 AS DOUBLE)
                         THEN 1 ELSE 0 END AS BIGINT) AS srm_detected
        FROM x
    """,
)
def stats_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH check — the first gate every A/B readout
    passes: a 1-df chi-square of the observed arm census against the
    DESIGNED traffic split. Here the design is a deliberate 1/3 : 2/3
    split (arm 0 = user_id divisible by 3), so the test exercises the
    general weighted-expectation machinery rather than the degenerate
    50/50 case; an SRM flag (chi2 > 3.841459, the 95% critical value)
    means the assignment plumbing dropped users non-randomly and the
    experiment readout cannot be trusted.

    Determinism: obs counts are exact BIGINTs; the chi-square is
    algebraically restated over integer numerators —
    (3*obs0 - n)^2/(3n) + (3*obs1 - 2n)^2/(6n), the squares widened
    to 38-digit integers (the r5g range rule) — so each term is one
    exact-integer division and the statistic is a fixed two-term sum,
    floor-half-up 6dp; the flag compares the ROUNDED value so both
    engines decide from the same double.

    Scale: one distinct-user aggregate on the data plane; everything
    downstream is a 1-row relation."""
    u = load(spark, sf_dir, "events").select("user_id").distinct()
    a = u.select(
        F.when(F.col("user_id") % 3 == 0, 0).otherwise(1).alias("arm")
    )
    c = a.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("obs0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("obs1"),
    )

    def fhu(col):
        return F.floor(F.lit(1000000.0) * col + 0.5) / 1000000.0

    n, o0, o1 = F.col("n"), F.col("obs0"), F.col("obs1")
    d38 = "decimal(38,0)"
    chi2 = fhu(
        ((3 * o0 - n).cast(d38) * (3 * o0 - n)).cast("double")
        / (F.lit(3.0) * n)
        + ((3 * o1 - 2 * n).cast(d38) * (3 * o1 - 2 * n)).cast("double")
        / (F.lit(6.0) * n)
    )
    x = c.select("n", "obs0", "obs1", chi2.alias("chi2"))
    return x.select(
        F.col("n").alias("n_users"),
        F.col("obs0").alias("obs_0"),
        F.col("obs1").alias("obs_1"),
        # mirror the oracle's association: (1e6 * n) / 3.0, not
        # 1e6 * (n / 3.0) — one rounding instead of two.
        (
            F.floor(F.lit(1000000.0) * F.col("n") / F.lit(3.0) + 0.5)
            / 1000000.0
        ).alias("expected_0"),
        "chi2",
        F.when(F.col("chi2") > F.lit(3.841459), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("srm_detected"),
    )


@query(
    "stats_power_mde",
    oracle=f"""
        WITH ev AS (
            SELECT user_id FROM ({EVENTS_ORACLE}) e
        ),
        u AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
            FROM ev GROUP BY 1
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(x*x) AS BIGINT) AS sxx,
                   CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0
                            END) AS BIGINT) AS n0,
                   CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0
                            END) AS BIGINT) AS n1
            FROM u
        ),
        v AS (
            SELECT n, n0, n1,
                   CAST(sx AS DOUBLE) / n AS mean_x,
                   CAST(CAST(n AS HUGEINT)*sxx
                        - CAST(sx AS HUGEINT)*sx AS DOUBLE)
                       / (CAST(n AS DOUBLE) * (n - 1)) AS var_x
            FROM m
        ),
        d AS (
            SELECT n, n0, n1, mean_x, var_x,
                   CAST(2.801585 AS DOUBLE)
                       * SQRT(var_x * (CAST(1.0 AS DOUBLE) / n0
                                       + CAST(1.0 AS DOUBLE) / n1))
                       AS mde
            FROM v
        )
        SELECT n AS n_users, n0 AS n_arm0, n1 AS n_arm1,
               FLOOR(1000000.0 * mean_x + 0.5) / 1000000.0 AS mean_x,
               FLOOR(1000000.0 * var_x + 0.5) / 1000000.0 AS var_x,
               FLOOR(1000000.0 * mde + 0.5) / 1000000.0 AS mde_abs,
               FLOOR(1000000.0 * (mde / mean_x) + 0.5) / 1000000.0
                   AS mde_rel
        FROM d
    """,
)
def stats_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER ANALYSIS / minimum-detectable-effect — the sizing
    calculation run BEFORE any experiment ships: for the
    events-per-user metric under the user_id-parity split, the
    smallest true lift detectable at alpha=0.05 (two-sided) with 80%
    power is (z_{{0.975}} + z_{{0.80}}) * sqrt(var * (1/n0 + 1/n1)) =
    2.801585 * SE. Reported absolute and relative to the metric mean
    — the number a PM reads to decide if the experiment is worth
    running at the current traffic level.

    Determinism: per-user counts are exact BIGINTs; variance is the
    exact-integer-moment form (n*sxx - sx^2)/(n*(n-1)) with the
    products widened to 38-digit integers (the r5g range rule); the
    z-sum is
    a double literal; SQRT is IEEE-exact; floor-half-up 6dp.

    Scale: one user-keyed count aggregate, then a 1-row moment
    relation — identical cost model to stats_cuped_adjusted."""
    ev = load(spark, sf_dir, "events").select("user_id")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    m = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    v = m.select(
        "n",
        "n0",
        "n1",
        (F.col("sx").cast("double") / F.col("n")).alias("mean_x"),
        (
            (
                F.col("n").cast("decimal(38,0)") * F.col("sxx")
                - F.col("sx").cast("decimal(38,0)") * F.col("sx")
            )
            .cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1))
        ).alias("var_x"),
    )
    d = v.select(
        "n",
        "n0",
        "n1",
        "mean_x",
        "var_x",
        (
            F.lit(2.801585)
            * F.sqrt(
                F.col("var_x")
                * (
                    F.lit(1.0) / F.col("n0")
                    + F.lit(1.0) / F.col("n1")
                )
            )
        ).alias("mde"),
    )

    def fhu(col):
        return F.floor(F.lit(1000000.0) * col + 0.5) / 1000000.0

    return d.select(
        F.col("n").alias("n_users"),
        F.col("n0").alias("n_arm0"),
        F.col("n1").alias("n_arm1"),
        fhu(F.col("mean_x")).alias("mean_x"),
        fhu(F.col("var_x")).alias("var_x"),
        fhu(F.col("mde")).alias("mde_abs"),
        fhu(F.col("mde") / F.col("mean_x")).alias("mde_rel"),
    )


@query(
    "stats_jackknife_ratio",
    oracle=f"""
        WITH ev AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS d
            FROM ({EVENTS_ORACLE}) e
        ),
        day AS (
            SELECT d, CAST(COUNT(*) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS y
            FROM ev GROUP BY 1
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS b,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy
            FROM day
        ),
        q AS (
            SELECT CAST(FLOOR(1000000.0
                              * (CAST(sy - y AS DOUBLE) / (sx - x))
                              + 0.5) AS BIGINT) AS qi
            FROM day CROSS JOIN tot
        ),
        s AS (
            SELECT CAST(SUM(qi) AS BIGINT) AS sq FROM q
        ),
        ss AS (
            SELECT CAST(SUM((t.b * qi - sq) * (t.b * qi - sq))
                        AS BIGINT) AS ssd
            FROM q CROSS JOIN s CROSS JOIN tot t
        )
        SELECT t.b AS b_days,
               FLOOR(1000000.0 * (CAST(t.sy AS DOUBLE) / t.sx) + 0.5)
                   / 1000000.0 AS ratio_overall,
               FLOOR(1000000000.0
                     * SQRT(CAST(t.b - 1 AS DOUBLE) * ss.ssd
                            / (CAST(t.b AS DOUBLE) * t.b * t.b
                               * 1000000000000.0))
                     + 0.5) / 1000000000.0 AS jk_se
        FROM tot t CROSS JOIN ss
    """,
)
def stats_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-ONE-BUCKET JACKKNIFE standard error of a RATIO metric —
    how every experimentation platform puts a confidence interval on
    purchases-per-event (a ratio of two sums, whose naive per-unit
    variance formula is wrong because numerator and denominator are
    correlated): recompute the ratio leaving out each day-bucket i,
    R_(i) = (SY-y_i)/(SX-x_i), and take
    SE^2 = (B-1)/B * sum_i (R_(i) - mean R_(i))^2.

    Determinism: the one float step per bucket — the leave-one-out
    division — is immediately quantized to a 1e6-scaled BIGINT
    (floor-half-up of a single exact-operand division, identical on
    both engines); the mean and squared-deviation sums then run in
    EXACT integers as sum (B*q_i - sum q)^2, and the final SE is one
    sqrt of one division. No float ever enters a multi-row SUM.

    Scale: one day-keyed aggregate on the data plane; the jackknife
    itself runs on the bounded O(days) bucket relation."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    )
    day = ev.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    tot = day.agg(
        F.count(F.lit(1)).cast("bigint").alias("b"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    q = day.crossJoin(F.broadcast(tot)).select(
        F.floor(
            F.lit(1000000.0)
            * ((F.col("sy") - F.col("y")).cast("double")
               / (F.col("sx") - F.col("x")))
            + 0.5
        )
        .cast("bigint")
        .alias("qi")
    )
    s = q.agg(F.sum("qi").cast("bigint").alias("sq"))
    ss = (
        q.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("b") * F.col("qi") - F.col("sq"))
                * (F.col("b") * F.col("qi") - F.col("sq"))
            )
            .cast("bigint")
            .alias("ssd")
        )
    )
    return tot.crossJoin(F.broadcast(ss)).select(
        F.col("b").alias("b_days"),
        (
            F.floor(
                F.lit(1000000.0)
                * (F.col("sy").cast("double") / F.col("sx"))
                + 0.5
            )
            / 1000000.0
        ).alias("ratio_overall"),
        (
            F.floor(
                F.lit(1000000000.0)
                * F.sqrt(
                    (F.col("b") - 1).cast("double")
                    * F.col("ssd")
                    / (
                        F.col("b").cast("double")
                        * F.col("b")
                        * F.col("b")
                        * F.lit(1000000000000.0)
                    )
                )
                + 0.5
            )
            / 1000000000.0
        ).alias("jk_se"),
    )


@query(
    "stats_msprt_sequential",
    oracle=f"""
        WITH {_USER_DAY_EVENTS_SQL},
        pu AS (
            SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
                   MIN(d) AS first_day,
                   MIN(CASE WHEN event_type = 'purchase' THEN d END)
                       AS purch_day
            FROM ev GROUP BY 1, 2
        ),
        days AS (SELECT DISTINCT d FROM ev),
        arms AS (SELECT CAST(0 AS BIGINT) AS arm
                 UNION ALL SELECT CAST(1 AS BIGINT)),
        inc AS (
            SELECT arm, first_day AS d, CAST(COUNT(*) AS BIGINT) AS en
            FROM pu GROUP BY 1, 2
        ),
        incc AS (
            SELECT arm, purch_day AS d, CAST(COUNT(*) AS BIGINT) AS cn
            FROM pu WHERE purch_day IS NOT NULL GROUP BY 1, 2
        ),
        g AS (
            SELECT a.arm, dd.d,
                   COALESCE(en, 0) AS en, COALESCE(cn, 0) AS cn
            FROM arms a CROSS JOIN days dd
            LEFT JOIN inc ON inc.arm = a.arm AND inc.d = dd.d
            LEFT JOIN incc ON incc.arm = a.arm AND incc.d = dd.d
        ),
        cum AS (
            SELECT arm, d,
                   CAST(SUM(en) OVER (PARTITION BY arm ORDER BY d)
                        AS BIGINT) AS n,
                   CAST(SUM(cn) OVER (PARTITION BY arm ORDER BY d)
                        AS BIGINT) AS c
            FROM g
        ),
        j AS (
            SELECT a.d, a.n AS n1, a.c AS c1, b.n AS n0, b.c AS c0
            FROM cum a JOIN cum b ON a.d = b.d
            WHERE a.arm = 1 AND b.arm = 0
        ),
        s AS (
            SELECT d, n1, c1, n0, c0,
                   CAST(c1 + c0 AS DOUBLE) / (n1 + n0) AS p,
                   CAST(c1 AS DOUBLE) / n1
                       - CAST(c0 AS DOUBLE) / n0 AS diff
            FROM j
            WHERE n1 > 0 AND n0 > 0
              AND c1 + c0 > 0 AND c1 + c0 < n1 + n0
        ),
        v AS (
            SELECT d, n1, c1, n0, c0, diff,
                   p * (1 - p) * (CAST(1.0 AS DOUBLE) / n1
                                  + CAST(1.0 AS DOUBLE) / n0) AS vv
            FROM s
        ),
        l AS (
            SELECT d, n1, c1, n0, c0,
                   FLOOR(1000000.0
                         * (CAST(0.5 AS DOUBLE)
                              * LN(vv / (vv + CAST(0.0001 AS DOUBLE)))
                            + diff * diff * CAST(0.0001 AS DOUBLE)
                              / (2 * vv
                                 * (vv + CAST(0.0001 AS DOUBLE))))
                         + 0.5) / 1000000.0 AS log_lambda
            FROM v
        )
        SELECT d, n1, c1, n0, c0, log_lambda,
               CAST(CASE WHEN log_lambda > CAST(2.995732 AS DOUBLE)
                         THEN 1 ELSE 0 END AS BIGINT) AS rejected
        FROM l
    """,
)
def stats_msprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALWAYS-VALID SEQUENTIAL TEST (mixture SPRT, Johari et al.
    "Peeking at A/B tests", KDD 2017) — the statistic that lets an
    experimenter look at the dashboard EVERY DAY without inflating
    false positives: for the conversion-rate difference between the
    user_id-parity arms (an A/A null by construction), the mixture
    likelihood ratio against N(0, tau^2=1e-4) is
    log Lambda_t = 0.5*ln(V/(V+tau^2)) + diff^2*tau^2/(2V(V+tau^2)),
    computed at every day t from the CUMULATIVE exposure/conversion
    counts; the test rejects the first day log Lambda crosses
    ln(1/alpha) = ln 20. On this A/A split the `rejected` column
    staying all-zero IS the assertion.

    Determinism: cumulative n/c are exact BIGINT window sums over the
    bounded day grid; p, diff, V and log Lambda are per-row
    closed-form expressions of those integers written with identical
    association on both engines (one LN, one division chain each),
    floor-half-up 6dp; the rejection flag compares the ROUNDED value.

    Scale: one user-keyed aggregate on the data plane; the sequential
    monitor itself is a window over the O(days) grid — exactly the
    shape of a daily metrics rollup at any corpus size."""
    ev = _user_day_events(spark, sf_dir)
    pu = _first_and_purchase_day(ev)
    pu = pu.withColumn("arm", (F.col("user_id") % 2).cast("bigint"))
    days = ev.select("d").distinct()
    arms = spark.createDataFrame([(0,), (1,)], "arm bigint")
    inc = pu.groupBy("arm", F.col("first_day").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("en")
    )
    incc = (
        pu.where(F.col("purch_day").isNotNull())
        .groupBy("arm", F.col("purch_day").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    g = (
        arms.crossJoin(days)
        .join(inc, ["arm", "d"], "left")
        .join(incc, ["arm", "d"], "left")
        .fillna(0, subset=["en", "cn"])
    )
    w = (
        Window.partitionBy("arm")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(
        "arm",
        "d",
        F.sum("en").over(w).cast("bigint").alias("n"),
        F.sum("cn").over(w).cast("bigint").alias("c"),
    )
    a = cum.where(F.col("arm") == 1).select(
        "d", F.col("n").alias("n1"), F.col("c").alias("c1")
    )
    b = cum.where(F.col("arm") == 0).select(
        "d", F.col("n").alias("n0"), F.col("c").alias("c0")
    )
    j = a.join(b, "d")
    n1, c1, n0, c0 = (F.col(x) for x in ("n1", "c1", "n0", "c0"))
    s = j.where(
        (n1 > 0) & (n0 > 0) & (c1 + c0 > 0) & (c1 + c0 < n1 + n0)
    ).select(
        "d",
        "n1",
        "c1",
        "n0",
        "c0",
        ((c1 + c0).cast("double") / (n1 + n0)).alias("p"),
        (c1.cast("double") / n1 - c0.cast("double") / n0).alias("diff"),
    )
    # association mirrors the oracle exactly: 1/n1 + 1/n0
    v = s.select(
        "d",
        "n1",
        "c1",
        "n0",
        "c0",
        "diff",
        (
            F.col("p")
            * (1 - F.col("p"))
            * (F.lit(1.0) / n1 + F.lit(1.0) / n0)
        ).alias("vv"),
    )
    tau2 = F.lit(0.0001)
    vv, diff = F.col("vv"), F.col("diff")
    ll = F.floor(
        F.lit(1000000.0)
        * (
            F.lit(0.5) * F.log(vv / (vv + tau2))
            + diff * diff * tau2 / (2 * vv * (vv + tau2))
        )
        + 0.5
    ) / 1000000.0
    out = v.select(
        "d", "n1", "c1", "n0", "c0", ll.alias("log_lambda")
    )
    return out.select(
        "*",
        F.when(F.col("log_lambda") > F.lit(2.995732), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejected"),
    )


@query(
    "events_policy_replay",
    oracle=f"""
        WITH ev AS (
            SELECT event_type AS action,
                   CAST(FLOOR(hour(ts) / 6.0) AS BIGINT) AS ctx,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS r
            FROM ({EVENTS_ORACLE}) e
        ),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM ev),
        cxa AS (
            SELECT ctx, action,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(r) AS BIGINT) AS sr
            FROM ev GROUP BY 1, 2
        ),
        cx AS (
            SELECT ctx, CAST(SUM(cnt) AS BIGINT) AS n_x
            FROM cxa GROUP BY 1
        ),
        pi AS (
            SELECT ctx, action AS pi_action, cnt AS n_matched,
                   sr AS r_matched
            FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY ctx
                      ORDER BY CAST(sr AS DOUBLE) / cnt DESC, action
                  ) AS rn FROM cxa)
            WHERE rn = 1
        )
        SELECT p.ctx AS context, c.n_x AS n_events, p.pi_action,
               p.n_matched,
               FLOOR(1000000.0
                     * (CAST(p.r_matched AS DOUBLE)
                        / (p.n_matched * 100.0)) + 0.5) / 1000000.0
                   AS dm_value,
               FLOOR(1000000.0
                     * (CAST(p.r_matched * c.n_x AS DOUBLE)
                        / (CAST(p.n_matched AS DOUBLE) * nn.n_total
                           * 100.0)) + 0.5) / 1000000.0
                   AS ips_value
        FROM pi p JOIN cx c ON c.ctx = p.ctx CROSS JOIN n nn
    """,
)
def events_policy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE POLICY EVALUATION by replay (Li et al., WSDM 2011) —
    the counterfactual question behind every recommender / RLHF data
    decision: "what reward WOULD the greedy policy have earned?",
    answered from logged traffic alone. Context = 6-hour bucket,
    action = logged event_type, reward = the event's value. The
    target policy is the per-context greedy argmax of mean logged
    reward; its value is estimated two ways per context — the DIRECT
    METHOD (mean reward of matching events) and INVERSE-PROPENSITY
    SCORING with the empirical behavior propensity
    p(a|x) = cnt(x,a)/cnt(x), i.e. v_x = R_x * n_x / (c_xa * n). The
    DM-vs-IPS gap per context is the selection-bias audit.

    Determinism: rewards quantized to integer cents at the scan
    (value has 2dp; floor-half-up is exact); every aggregate is a
    BIGINT sum; each output value is a single division of exact
    integers, floor-half-up 6dp — no multi-row float sums (the
    per-context grouping makes the IPS sum algebraic, not
    accumulated). The argmax orders by one exact-operand division
    with an action-name tiebreak, identical on both engines.

    Scale: one (ctx, action)-keyed aggregate on the data plane;
    everything downstream lives on the bounded ctx x action grid."""
    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("action"),
        F.floor(F.hour("ts") / 6.0).cast("bigint").alias("ctx"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("r"),
    )
    n = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    cxa = ev.groupBy("ctx", "action").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("r").cast("bigint").alias("sr"),
    )
    cx = cxa.groupBy("ctx").agg(
        F.sum("cnt").cast("bigint").alias("n_x")
    )
    w = Window.partitionBy("ctx").orderBy(
        (F.col("sr").cast("double") / F.col("cnt")).desc(), "action"
    )
    pi = (
        cxa.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "ctx",
            F.col("action").alias("pi_action"),
            F.col("cnt").alias("n_matched"),
            F.col("sr").alias("r_matched"),
        )
    )

    def fhu(col):
        return F.floor(F.lit(1000000.0) * col + 0.5) / 1000000.0

    return (
        pi.join(cx, "ctx")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("ctx").alias("context"),
            F.col("n_x").alias("n_events"),
            "pi_action",
            "n_matched",
            fhu(
                F.col("r_matched").cast("double")
                / (F.col("n_matched") * F.lit(100.0))
            ).alias("dm_value"),
            fhu(
                (F.col("r_matched") * F.col("n_x")).cast("double")
                / (
                    F.col("n_matched").cast("double")
                    * F.col("n_total")
                    * F.lit(100.0)
                )
            ).alias("ips_value"),
        )
    )


@query(
    "stats_qini_uplift",
    oracle=f"""
        WITH {_USER_DAY_EVENTS_SQL},
        m AS (SELECT MIN(d) AS d0 FROM ev),
        u AS (
            SELECT user_id,
                   CAST(user_id % 2 AS BIGINT) AS arm,
                   CAST(SUM(CASE WHEN DATEDIFF('day',
                                               (SELECT d0 FROM m), d) < 15
                                 THEN 1 ELSE 0 END) AS BIGINT) AS score,
                   MAX(CASE WHEN DATEDIFF('day',
                                          (SELECT d0 FROM m), d) >= 15
                            AND event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS conv
            FROM ev GROUP BY 1, 2
        ),
        g AS (
            SELECT score,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS nt,
                   CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END)
                        AS BIGINT) AS ct,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS nc,
                   CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END)
                        AS BIGINT) AS cc
            FROM u GROUP BY 1
        ),
        c AS (
            SELECT score,
                   CAST(SUM(nt) OVER w AS BIGINT) AS cum_nt,
                   CAST(SUM(ct) OVER w AS BIGINT) AS cum_ct,
                   CAST(SUM(nc) OVER w AS BIGINT) AS cum_nc,
                   CAST(SUM(cc) OVER w AS BIGINT) AS cum_cc
            FROM g
            WINDOW w AS (ORDER BY score DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
        )
        SELECT score, cum_nt, cum_ct, cum_nc, cum_cc,
               FLOOR(1000000.0
                     * (CAST(cum_ct AS DOUBLE) / cum_nt
                        - CAST(cum_cc AS DOUBLE) / cum_nc)
                     + 0.5) / 1000000.0 AS uplift,
               FLOOR(1000000.0
                     * (cum_ct - CAST(cum_cc AS DOUBLE) * cum_nt
                                 / cum_nc)
                     + 0.5) / 1000000.0 AS qini
        FROM c
        WHERE cum_nt > 0 AND cum_nc > 0
    """,
)
def stats_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QINI / UPLIFT CURVE — the evaluation every targeting model
    ships with: rank users by a score (here the PRE-period activity
    count, the same covariate CUPED uses), then at each score
    threshold compare cumulative conversion between treated and
    control arms: uplift(s) = C_t/N_t - C_c/N_c and the Qini value
    C_t - C_c * N_t/N_c. Arms are the user-parity A/A split, so the
    TRUE uplift is zero at every threshold — the curve hugging zero
    is the negative control a real uplift model is judged against.

    Scale note: the curve is built on the SCORE GRID, not a global
    NTILE — per-score cells aggregate on the data plane and the
    cumulative window runs over the bounded O(|scores|) relation
    (the customer_rfm_segments bounds discipline: nothing sorts the
    full population in one partition).

    Determinism: all cells and cumulative sums are exact BIGINTs;
    uplift and Qini are single divisions of exact integers per row,
    floor-half-up 6dp."""
    ev = _user_day_events(spark, sf_dir)
    m = ev.agg(F.min("d").alias("d0"))
    u = (
        ev.crossJoin(F.broadcast(m))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.datediff("d", "d0") < 15, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("score"),
            F.max(
                F.when(
                    (F.datediff("d", "d0") >= 15)
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            ).alias("conv"),
        )
        .withColumn("arm", (F.col("user_id") % 2).cast("bigint"))
    )
    g = u.groupBy("score").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nt"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("ct"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nc"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("cc"),
    )
    w = (
        Window.orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "score",
        F.sum("nt").over(w).cast("bigint").alias("cum_nt"),
        F.sum("ct").over(w).cast("bigint").alias("cum_ct"),
        F.sum("nc").over(w).cast("bigint").alias("cum_nc"),
        F.sum("cc").over(w).cast("bigint").alias("cum_cc"),
    )

    def fhu(col):
        return F.floor(F.lit(1000000.0) * col + 0.5) / 1000000.0

    return c.where((F.col("cum_nt") > 0) & (F.col("cum_nc") > 0)).select(
        "score",
        "cum_nt",
        "cum_ct",
        "cum_nc",
        "cum_cc",
        fhu(
            F.col("cum_ct").cast("double") / F.col("cum_nt")
            - F.col("cum_cc").cast("double") / F.col("cum_nc")
        ).alias("uplift"),
        fhu(
            F.col("cum_ct")
            - F.col("cum_cc").cast("double")
            * F.col("cum_nt")
            / F.col("cum_nc")
        ).alias("qini"),
    )


@query(
    "ann_hard_negatives",
    oracle=f"""
        WITH v AS (
            SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec,
                   label
            FROM embeddings
        ),
        q AS (SELECT id AS qid, vec AS qvec, label AS qlabel
              FROM v WHERE id < {_NQ})
        SELECT qid, qlabel, id, neg_label, cos_sim FROM (
            SELECT q.qid, q.qlabel, v.id, v.label AS neg_label,
                   ROUND(list_cosine_similarity(v.vec, q.qvec), 6)
                       AS cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY ROUND(list_cosine_similarity(
                                    v.vec, q.qvec), 6) DESC, v.id) AS rn
            FROM v CROSS JOIN q
            WHERE v.id >= {_NQ} AND v.label <> q.qlabel)
        WHERE rn <= 3
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive embedding training — the
    retrieval that makes or breaks a dual-encoder fine-tune (DPR /
    E5 / SimCSE recipes): for each anchor in the query batch, the
    top-3 most-similar corpus vectors whose LABEL differs from the
    anchor's — maximally confusable negatives, far more informative
    than the random negatives ``corpus_contrastive_pairs`` samples
    (the two queries are the two halves of a production pair-mining
    pipeline: lexical positives there, semantic hard negatives here).

    Scale: identical plan to ``ann_batch_topk`` — the anchor batch
    broadcasts ({_NQ}-row build side), the label filter fuses into
    the one corpus scan, and the per-anchor top-3 plans as
    WindowGroupLimit so each shuffle partition retains <= 3 rows per
    anchor. One scan at any corpus size."""
    emb = load(spark, sf_dir, "embeddings")
    v = C._vectors(emb, "vec_id", "embedding").join(
        load(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"), "label"
        ),
        "id",
    )
    q = v.where(F.col("id") < _NQ).select(
        F.col("id").alias("qid"),
        F.col("vec").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    sim = F.expr(f"round({cosine('vec', 'qvec')}, 6)")
    win = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("id")
    )
    return (
        v.where(F.col("id") >= _NQ)
        .crossJoin(F.broadcast(q))
        .where(F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            "qlabel",
            "id",
            F.col("label").alias("neg_label"),
            sim.alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= 3)
        .select("qid", "qlabel", "id", "neg_label", "cos_sim")
    )


@query(
    "graph_assortativity",
    oracle="""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        ed AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        ),
        sym AS (
            SELECT u, v FROM ed UNION ALL SELECT v AS u, u AS v FROM ed
        ),
        deg AS (
            SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM sym GROUP BY 1
        ),
        dd AS (
            SELECT du.d AS dx, dv.d AS dy
            FROM sym s
            JOIN deg du ON du.node = s.u
            JOIN deg dv ON dv.node = s.v
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS mm,
                   CAST(SUM(dx) AS BIGINT) AS sx,
                   CAST(SUM(dx*dx) AS BIGINT) AS sxx,
                   CAST(SUM(dx*dy) AS BIGINT) AS sxy
            FROM dd
        )
        SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST((SELECT COUNT(*) FROM ed) AS BIGINT) AS n_edges,
               FLOOR(1000000.0
                     * (CAST(CAST(mm AS HUGEINT)*sxy
                             - CAST(sx AS HUGEINT)*sx AS DOUBLE)
                        / CAST(CAST(mm AS HUGEINT)*sxx
                               - CAST(sx AS HUGEINT)*sx AS DOUBLE))
                     + 0.5) / 1000000.0 AS assortativity
        FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY (Newman 2002) of the co-purchase graph —
    do high-degree parts co-occur with other high-degree parts (hub
    clustering, r > 0) or with leaves (hub-and-spoke, r < 0)? The
    answer decides whether degree-based partitioning strategies
    (e.g. the triangle count's orientation trick) face correlated or
    anti-correlated hubs. r is the Pearson correlation of the degree
    pairs over the SYMMETRIZED edge relation, where by symmetry
    sum(dx)=sum(dy) and sum(dx^2)=sum(dy^2), so
    r = (M*Sxy - Sx^2) / (M*Sxx - Sx^2).

    Determinism AND range: degrees and all four moments are exact
    BIGINT sums; the Pearson numerator/denominator products are then
    formed in exact 38-digit integer arithmetic (DECIMAL(38,0) on
    Spark, HUGEINT on DuckDB — the sf1 scaling run measured mm*sxy
    overflowing BIGINT at ~1e19) and cast once to double for the one
    division, floor-half-up 6dp.

    Scale: the edge build is the triangle count's equi-join (bounded
    by per-order basket sizes, never all-parts); degrees are one hash
    agg; sxy attaches ONE endpoint degree on the edge relation and
    folds the other node-side (r12 — see inline comment); every
    other moment is a node-scale agg over the degree table."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    ed = copurchase_pairs(li).distinct().persist()
    sym = ed.unionByName(
        ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    ).persist()
    # r12 OPT (guide §2.3/§2.4): the only moment that needs edge-level
    # degree PAIRS is sxy, and it factors by distributivity —
    # Σ_sym dx·dy = Σ_u d(u)·(Σ_{v∈N(u)} d(v)) — so ONE edge-scale
    # join (attach the neighbor degree, agg per node) replaces the
    # former two, and the remaining moments are pure functions of the
    # node-scale degree table: mm = Σd (each node appears d times as a
    # sym source), sx = Σ_sym dx = Σd², sxx = Σd³, n_edges = Σd/2 —
    # which also drops the dd count pass and the separate n_edges
    # pass over `ed`. Integer addition is associative, so every
    # moment is the SAME exact integer as before (oracle-verified).
    # Alternating A/B min-of-5 at sf0.1: 4.04 → 3.55 s, every B leg
    # under every A leg but one.
    s = (
        sym.join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dy")),
            "v",
        )
        .groupBy("u")
        .agg(F.sum("dy").cast("bigint").alias("sdy"))
    )
    sxy = s.join(deg.select(F.col("node").alias("u"), "d"), "u").agg(
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("sdy"))
        .cast("bigint")
        .alias("sxy")
    )
    m = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("d").cast("bigint").alias("mm"),
        (F.coalesce(F.sum("d"), F.lit(0)) / 2)
        .cast("bigint")
        .alias("n_edges"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d"))
        .cast("bigint")
        .alias("sx"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d") * F.col("d"))
        .cast("bigint")
        .alias("sxx"),
    )
    # the persisted edge and degree relations back the lazy result;
    # release them when the caller drops it
    out = (
        m.crossJoin(F.broadcast(sxy))
        .select(
            "n_nodes",
            "n_edges",
            (
                F.floor(
                    F.lit(1000000.0)
                    * (
                        (
                            F.col("mm").cast("decimal(38,0)")
                            * F.col("sxy")
                            - F.col("sx").cast("decimal(38,0)")
                            * F.col("sx")
                        ).cast("double")
                        / (
                            F.col("mm").cast("decimal(38,0)")
                            * F.col("sxx")
                            - F.col("sx").cast("decimal(38,0)")
                            * F.col("sx")
                        ).cast("double")
                    )
                    + 0.5
                )
                / 1000000.0
            ).alias("assortativity"),
        )
    )
    return release_on_drop(out, ed, deg)


@query(
    "events_seasonal_decompose",
    oracle=f"""
        WITH ev AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d
            FROM ({EVENTS_ORACLE}) e
        ),
        day AS (
            SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY 1
        ),
        tr AS (
            SELECT d, c,
                   CAST(SUM(c) OVER w AS BIGINT) AS s7,
                   CAST(COUNT(*) OVER w AS BIGINT) AS k7,
                   CAST(DATEDIFF('day', DATE '2000-01-03', d) % 7
                        AS BIGINT) AS dow
            FROM day
            WINDOW w AS (ORDER BY d
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        full_w AS (SELECT * FROM tr WHERE k7 = 7),
        seas AS (
            SELECT dow,
                   CAST(SUM(7*c - s7) AS BIGINT) AS num,
                   CAST(7 * COUNT(*) AS BIGINT) AS den
            FROM full_w GROUP BY 1
        )
        SELECT f.d, f.c,
               FLOOR(1000000.0 * (CAST(f.s7 AS DOUBLE) / 7) + 0.5)
                   / 1000000.0 AS trend,
               FLOOR(1000000.0 * (CAST(s.num AS DOUBLE) / s.den) + 0.5)
                   / 1000000.0 AS seasonal,
               FLOOR(1000000.0
                     * (CAST(7*f.c - f.s7 AS DOUBLE) / 7
                        - CAST(s.num AS DOUBLE) / s.den)
                     + 0.5) / 1000000.0 AS residual
        FROM full_w f JOIN seas s ON s.dow = f.dow
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL SEASONAL DECOMPOSITION of the daily event series —
    trend (centered 7-day moving average), day-of-week seasonal
    component (mean detrended value per weekday), and residual: the
    decomposition every traffic dashboard plots and every anomaly
    detector (``events_seasonal_anomaly`` scores hour-of-day z-scores;
    this is the day-grain additive model) subtracts first.

    Determinism: daily counts and the 7-day window sums are exact
    BIGINTs; detrended values are kept as the exact integer 7c - s7
    (avoiding the c - s7/7 float), so the seasonal means are single
    divisions of exact integer sums; weekday indexing is an epoch-
    anchored DATEDIFF %% 7 (identical on both engines, unlike the
    engines' dayofweek() conventions).

    Scale: one day-keyed count on the data plane; the moving window,
    weekday means, and residuals all live on the bounded O(days)
    grid."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("d")
    )
    day = ev.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = day.select(
        "d",
        "c",
        F.sum("c").over(w).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("k7"),
        (
            F.datediff("d", F.lit("2000-01-03").cast("date")) % 7
        ).cast("bigint").alias("dow"),
    )
    full_w = tr.where(F.col("k7") == 7)
    seas = full_w.groupBy("dow").agg(
        F.sum(7 * F.col("c") - F.col("s7"))
        .cast("bigint")
        .alias("num"),
        (7 * F.count(F.lit(1))).cast("bigint").alias("den"),
    )

    def fhu(col):
        return F.floor(F.lit(1000000.0) * col + 0.5) / 1000000.0

    return full_w.join(F.broadcast(seas), "dow").select(
        "d",
        "c",
        fhu(F.col("s7").cast("double") / 7).alias("trend"),
        fhu(F.col("num").cast("double") / F.col("den")).alias(
            "seasonal"
        ),
        fhu(
            (7 * F.col("c") - F.col("s7")).cast("double") / 7
            - F.col("num").cast("double") / F.col("den")
        ).alias("residual"),
    )


@query(
    "data_target_encoding",
    oracle=f"""
        WITH ev AS (
            SELECT event_type,
                   CAST(user_id % 5 AS BIGINT) AS fold,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
            FROM ({EVENTS_ORACLE}) e
        ),
        tf AS (
            SELECT event_type, fold,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS s
            FROM ev GROUP BY 1, 2
        ),
        t AS (
            SELECT event_type,
                   CAST(SUM(n) AS BIGINT) AS nt,
                   CAST(SUM(s) AS BIGINT) AS st
            FROM tf GROUP BY 1
        ),
        g AS (
            SELECT CAST(SUM(n) AS BIGINT) AS ng,
                   CAST(SUM(s) AS BIGINT) AS sg
            FROM tf
        )
        SELECT tf.event_type, tf.fold, tf.n AS n_in_fold,
               FLOOR(1000000.0
                     * (CAST(t.st - tf.s AS DOUBLE)
                        / ((t.nt - tf.n) * 100.0)) + 0.5) / 1000000.0
                   AS oof_mean,
               FLOOR(1000000.0
                     * (CAST(CAST(t.st - tf.s AS HUGEINT)
                             * (g.ng - t.nt)
                             + CAST(100 AS HUGEINT) * (g.sg - t.st)
                             AS DOUBLE)
                        / (CAST(t.nt - tf.n + 100 AS DOUBLE)
                           * (g.ng - t.nt) * 100.0))
                     + 0.5) / 1000000.0 AS smoothed_oof_mean
        FROM tf JOIN t USING (event_type) CROSS JOIN g
    """,
)
def data_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-FOLD TARGET ENCODING — the leakage-free categorical feature
    every tabular ML pipeline builds: encode event_type by the mean
    target (the event's value) computed OUT-OF-FOLD, so a row's own
    fold never contributes to its encoding (folds = user_id %% 5,
    keyed by user so a user's rows share a fold — the grouped-split
    discipline ``data_group_split_audit`` checks). The smoothed
    variant shrinks toward the out-of-category prior with pseudo-count
    m=100 (the standard mean-encoding regularizer); the prior is the
    LEAVE-CATEGORY-OUT global mean, itself leakage-free.

    Determinism: targets quantize to integer cents at the scan; all
    fold/category/global moments are exact BIGINT sums; each output
    is ONE division of exact integers — the smoothed form is cleared
    of its inner prior division algebraically:
    (S_oof*Ng' + m*Sg') / ((n_oof+m)*Ng'), the products widened to
    38-digit integers (the r5g range rule) — floor-half-up 6dp.

    Scale: one (type, fold) aggregate on the data plane; the encoding
    table is the bounded |types| x 5 grid joined back by broadcast at
    apply time."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 5).cast("bigint").alias("fold"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("y"),
    )
    tf = ev.groupBy("event_type", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    t = tf.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
    )
    g = tf.agg(
        F.sum("n").cast("bigint").alias("ng"),
        F.sum("s").cast("bigint").alias("sg"),
    )

    def fhu(col):
        return F.floor(F.lit(1000000.0) * col + 0.5) / 1000000.0

    return (
        tf.join(t, "event_type")
        .crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "fold",
            F.col("n").alias("n_in_fold"),
            fhu(
                (F.col("st") - F.col("s")).cast("double")
                / ((F.col("nt") - F.col("n")) * F.lit(100.0))
            ).alias("oof_mean"),
            fhu(
                (
                    (F.col("st") - F.col("s")).cast("decimal(38,0)")
                    * (F.col("ng") - F.col("nt"))
                    + F.lit(100).cast("decimal(38,0)")
                    * (F.col("sg") - F.col("st"))
                ).cast("double")
                / (
                    (F.col("nt") - F.col("n") + 100).cast("double")
                    * (F.col("ng") - F.col("nt"))
                    * F.lit(100.0)
                )
            ).alias("smoothed_oof_mean"),
        )
    )


@query(
    "stats_ols_elasticity",
    oracle="""
        WITH li AS (
            SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS x,
                   CAST(l_quantity AS BIGINT) AS y
            FROM lineitem
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x*x) AS BIGINT) AS sxx,
                   CAST(SUM(y*y) AS BIGINT) AS syy,
                   CAST(SUM(x*y) AS BIGINT) AS sxy
            FROM li
        ),
        q AS (
            SELECT n,
                   CAST(CAST(n AS HUGEINT)*sxy
                        - CAST(sx AS HUGEINT)*sy AS DOUBLE) AS cov,
                   CAST(CAST(n AS HUGEINT)*sxx
                        - CAST(sx AS HUGEINT)*sx AS DOUBLE) AS vx,
                   CAST(CAST(n AS HUGEINT)*syy
                        - CAST(sy AS HUGEINT)*sy AS DOUBLE) AS vy,
                   sx, sy
            FROM m
        )
        SELECT n,
               FLOOR(1000000.0 * (cov / vx * 100.0) + 0.5)
                   / 1000000.0 AS slope,
               FLOOR(1000000.0
                     * ((CAST(sy AS DOUBLE) / n)
                        - cov / vx * (CAST(sx AS DOUBLE) / n))
                     + 0.5) / 1000000.0 AS intercept,
               FLOOR(1000000.0 * (cov * cov / (vx * vy)) + 0.5)
                   / 1000000.0 AS r2
        FROM q
    """,
)
def stats_ols_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DISTRIBUTED OLS — quantity-on-discount "elasticity"
    regression over all of lineitem: slope (quantity units per unit
    of discount — the 100x rescale undoes the cent quantization),
    intercept, and R^2, all from ONE pass of six integer moments.
    This is the moments-not-rows pattern that makes linear models
    trivially distributable: the data plane contributes only
    map-side-combinable BIGINT sums; the estimator assembles on a
    1-row relation. (TPC-H's discounts are assigned independently of
    quantity, so the true slope is ~0 and R^2 ~ 0 — the negative
    control; a real elasticity fit slots any (x, y) pair into the
    same plan.)

    Determinism AND range: discounts have 2dp (cent quantization
    exact); quantities are integral; every moment is an exact BIGINT
    sum; the n*Sxy-style products form in exact 38-digit integer
    arithmetic (DECIMAL(38,0) / HUGEINT — the BIGINT form overflows
    around 1e19, measured on the assortativity twin at sf1) and cast
    once to double; slope/intercept/R^2 are then fixed-association
    expressions, floor-half-up 6dp."""
    li = load(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100 + 0.5)
        .cast("bigint")
        .alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    m = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).cast("bigint").alias("sxy"),
    )
    d38 = "decimal(38,0)"
    q = m.select(
        "n",
        "sx",
        "sy",
        (
            F.col("n").cast(d38) * F.col("sxy")
            - F.col("sx").cast(d38) * F.col("sy")
        )
        .cast("double")
        .alias("cov"),
        (
            F.col("n").cast(d38) * F.col("sxx")
            - F.col("sx").cast(d38) * F.col("sx")
        )
        .cast("double")
        .alias("vx"),
        (
            F.col("n").cast(d38) * F.col("syy")
            - F.col("sy").cast(d38) * F.col("sy")
        )
        .cast("double")
        .alias("vy"),
    )

    def fhu(col):
        return F.floor(F.lit(1000000.0) * col + 0.5) / 1000000.0

    return q.select(
        "n",
        fhu(F.col("cov") / F.col("vx") * F.lit(100.0)).alias("slope"),
        fhu(
            (F.col("sy").cast("double") / F.col("n"))
            - F.col("cov")
            / F.col("vx")
            * (F.col("sx").cast("double") / F.col("n"))
        ).alias("intercept"),
        fhu(
            F.col("cov") * F.col("cov") / (F.col("vx") * F.col("vy"))
        ).alias("r2"),
    )


@query(
    "corpus_unigram_prune",
    oracle="""
        WITH words AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE length(w) > 0
            GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS wtot FROM words),
        occ AS (
            SELECT w, cw, unnest(string_split(w, '')) AS ch
            FROM words
        ),
        chars AS (
            SELECT ch, CAST(SUM(cw) AS BIGINT) AS nch
            FROM occ GROUP BY 1
        ),
        ctot AS (SELECT CAST(SUM(nch) AS BIGINT) AS t FROM chars),
        spell AS (
            SELECT o.w,
                   CAST(SUM(ROUND(LN(c.nch), 6)) AS DOUBLE) AS s,
                   CAST(COUNT(*) AS BIGINT) AS lw
            FROM occ o JOIN chars c ON c.ch = o.ch
            GROUP BY 1
        ),
        scored AS (
            SELECT wo.w, wo.cw,
                   ROUND(wo.cw
                         * ((sp.s - sp.lw * ROUND(LN(ct.t), 6))
                            - (ROUND(LN(wo.cw), 6)
                               - ROUND(LN(tt.wtot), 6))), 4)
                       AS delta_ll
            FROM words wo
            JOIN spell sp ON sp.w = wo.w
            CROSS JOIN ctot ct CROSS JOIN tot tt
        )
        SELECT w, cw, delta_ll FROM scored
        ORDER BY delta_ll DESC, w
        LIMIT 50
    """,
)
def corpus_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM-LM TOKENIZER VOCAB PRUNING (the SentencePiece/Kudo 2018
    EM-prune step, one round) — the other half of tokenizer training
    next to ``corpus_bpe_train``: for every word type, the corpus
    log-likelihood LOST if the word were evicted from the vocabulary
    and forced to spell out as characters:
    delta = c_w * (logP_char-spelling - logP_word), both probabilities
    from exact corpus counts. The 50 types with the SMALLEST loss
    (delta closest to zero) are the prune candidates — exactly how
    SentencePiece shrinks its seed vocabulary each round.

    Determinism: counts are exact BIGINTs; every ln() is taken of an
    exact integer and ROUNDed per-term at 6dp before the per-word sum
    (the repo's float-discipline for sums of logs), and the final
    score rounds at 4dp before the rank — identical on both engines.

    Scale: the unit of work is the WORD-TYPE relation (the BPE
    trainer's discipline — |vocab| rows, never corpus-scale); the
    char table is O(alphabet); the prune list is a 50-row
    TakeOrdered. One corpus-plane aggregate total."""
    docs = load(spark, sf_dir, "documents")
    words = (
        widen(docs).select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cw"))
        .persist()
    )
    tot = words.agg(F.sum("cw").cast("bigint").alias("wtot"))
    occ = words.select(
        "w", "cw", F.explode(F.split("w", "")).alias("ch")
    ).where(F.length("ch") > 0)
    chars = occ.groupBy("ch").agg(
        F.sum("cw").cast("bigint").alias("nch")
    )
    ctot = chars.agg(F.sum("nch").cast("bigint").alias("t"))
    spell = (
        occ.join(F.broadcast(chars), "ch")
        .groupBy("w")
        .agg(
            F.sum(F.round(F.log("nch"), 6)).alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("lw"),
        )
    )
    scored = (
        words.join(spell, "w")
        .crossJoin(F.broadcast(ctot))
        .crossJoin(F.broadcast(tot))
        .select(
            "w",
            "cw",
            F.round(
                F.col("cw")
                * (
                    (
                        F.col("s")
                        - F.col("lw") * F.round(F.log("t"), 6)
                    )
                    - (
                        F.round(F.log("cw"), 6)
                        - F.round(F.log("wtot"), 6)
                    )
                ),
                4,
            ).alias("delta_ll"),
        )
    )
    return scored.orderBy(F.col("delta_ll").desc(), "w").limit(50)


@query(
    "data_freshness_audit",
    oracle=f"""
        WITH ev AS (
            SELECT event_type, ts FROM ({EVENTS_ORACLE}) e
        ),
        g AS (SELECT MAX(ts) AS now_ts FROM ev),
        p AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MAX(ts) AS last_ts
            FROM ev GROUP BY 1
        ),
        s AS (
            SELECT p.event_type, p.n_events,
                   CAST(DATEDIFF('day', CAST(p.last_ts AS DATE),
                                 CAST(g.now_ts AS DATE)) * 86400
                        + (hour(g.now_ts) * 3600
                           + minute(g.now_ts) * 60
                           + CAST(FLOOR(second(g.now_ts)) AS BIGINT))
                        - (hour(p.last_ts) * 3600
                           + minute(p.last_ts) * 60
                           + CAST(FLOOR(second(p.last_ts)) AS BIGINT))
                        AS BIGINT) AS stale_sec
            FROM p CROSS JOIN g
        )
        SELECT event_type, n_events,
               CAST(FLOOR(stale_sec / 60.0) AS BIGINT) AS staleness_min,
               CAST(CASE WHEN FLOOR(stale_sec / 60.0) > 360
                         THEN 1 ELSE 0 END AS BIGINT) AS slo_breach
        FROM s
    """,
)
def data_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-FRESHNESS SLO audit — the first page of every pipeline
    runbook: per source stream (event_type), how stale is the newest
    record relative to the dataset WATERMARK (the global max ts — a
    live job would use the wall clock; a batch audit must use the
    watermark so the answer is replayable), and does it breach a
    6-hour freshness SLO. A type that stops emitting shows up here
    before it becomes silence in the heartbeat-gap detector
    (``events_heartbeat_gaps`` finds INTERNAL gaps; this finds
    trailing-edge death).

    Determinism: both timestamps are exact MAX aggregates; staleness
    is assembled from INTEGER calendar components (day diff * 86400 +
    second-of-day difference — TIMESTAMP_NTZ exposes no epoch
    extraction in Spark, and this component form is engine-identical
    by construction); the breach flag compares integers.

    Scale: one type-keyed max/count aggregate + a 1-row watermark
    broadcast."""
    ev = load(spark, sf_dir, "events").select("event_type", "ts")
    g = ev.agg(F.max("ts").alias("now_ts"))
    p = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("ts").alias("last_ts"),
    )

    def sod(c):
        return (
            F.hour(c) * 3600 + F.minute(c) * 60 + F.second(c)
        ).cast("bigint")

    s = p.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_events",
        (
            F.datediff(
                F.col("now_ts").cast("date"),
                F.col("last_ts").cast("date"),
            ).cast("bigint")
            * 86400
            + sod(F.col("now_ts"))
            - sod(F.col("last_ts"))
        ).alias("stale_sec"),
    )
    stale_min = F.floor(F.col("stale_sec") / 60.0).cast("bigint")
    return s.select(
        "event_type",
        "n_events",
        stale_min.alias("staleness_min"),
        F.when(stale_min > 360, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("slo_breach"),
    )
