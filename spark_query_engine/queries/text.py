"""Text-analysis queries over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, Window as W
from pyspark.sql import functions as F

from spark_query_engine.operators import textanalysis as TA
from spark_query_engine.operators import widen
from spark_query_engine.queries import load, query

_EN = ",".join(f"'{w}'" for w in TA.STOPWORDS["en"])
_LANG_SCORES = ",\n".join(
    f"len(list_intersect(tokset, [{','.join(repr(w) for w in words)}])) AS score_{lang}"
    for lang, words in TA.STOPWORDS.items()
)


@query(
    "text_langid",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_distinct(string_split(lower(text), ' ')) AS tokset
            FROM documents
        ),
        s AS (
            SELECT doc_id, {_LANG_SCORES}
            FROM t
        )
        SELECT doc_id AS id,
               CASE
                   WHEN greatest(score_en, score_es, score_de, score_fr) = 0 THEN 'und'
                   WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
                   WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
                   WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
                   ELSE 'fr'
               END AS predicted_lang,
               CAST(greatest(score_en, score_es, score_de, score_fr) AS INT)
                   AS stopword_hits
        FROM s
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID (deterministic heuristic; ties go
    to the fixed language order en>es>de>fr)."""
    return TA.language_id(load(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_quality",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   text,
                   string_split(lower(text), ' ') AS toks,
                   length(text) AS n_chars,
                   length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha
            FROM documents
        ),
        m AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(n_chars AS BIGINT) AS n_chars_computed,
                   ROUND((n_chars - (len(toks) - 1)) * 1.0 / len(toks), 6) AS mean_token_len,
                   ROUND(n_alpha * 1.0 / n_chars, 6) AS alpha_ratio,
                   ROUND(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS distinct_token_ratio,
                   len(toks) AS nt,
                   len(list_intersect(list_distinct(toks), [{_EN}])) AS n_stop,
                   len(list_distinct(toks)) AS nd,
                   n_alpha, n_chars
            FROM t
        )
        SELECT doc_id AS id, n_tokens, n_chars_computed, mean_token_len,
               alpha_ratio, distinct_token_ratio,
               ROUND(least(nt / 100.0, 1.0) * 0.25
                     + ROUND(n_alpha * 1.0 / n_chars, 6) * 0.25
                     + ROUND(nd * 1.0 / nt, 6) * 0.25
                     + least(n_stop / 4.0, 1.0) * 0.25, 8) AS quality_score
        FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length / alpha ratio / distinct-token
    ratio / stopword presence) — the cheap pre-filter stage of a
    training-data pipeline."""
    return TA.quality_score(load(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_token_counts",
    oracle="""
        WITH t AS (
            SELECT doc_id, text, string_split(lower(text), ' ') AS toks,
                   length(text) AS n
            FROM documents
        )
        SELECT doc_id AS id,
               CAST(len(toks) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                    AS BIGINT) AS n_regex_tokens,
               CAST(list_sum(list_transform(toks, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT)
                   AS n_bpe_ish_tokens,
               CAST(ceil(n / 4.0) AS BIGINT) AS n_char4_tokens
        FROM t
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish (ceil(len/4) per token) token counts —
    integer-exact in any engine."""
    return TA.token_counts(load(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_fingerprint",
    oracle="""
        SELECT doc_id AS id,
               md5(text) AS md5_raw,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS md5_normalized,
               md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
                   AS token_set_fp
        FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw / normalized / token-set md5 fingerprints (exact,
    near-layout, and bag-of-words dedup keys)."""
    return TA.fingerprint(load(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_rolling_hash",
    oracle="""
        SELECT doc_id,
               list_reduce(
                   list_transform(string_split_regex(text, ''),
                                  x -> ascii(x)::BIGINT),
                   (a, b) -> (a * 31 + b) % 1000000007) AS content_hash,
               list_reduce(
                   list_transform(string_split_regex(substr(text, 1, 100), ''),
                                  x -> ascii(x)::BIGINT),
                   (a, b) -> (a * 31 + b) % 1000000007) AS prefix_hash
        FROM documents
        WHERE length(text) > 0
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprints (base 31 mod 1e9+7,
    engine-exact 64-bit arithmetic): whole-content hash + first-100-
    char prefix hash (the near-layout dedup key — catches documents
    differing only in their tails). A pure fold inside codegen; at
    corpus scale this replaces md5 when the hash must be updatable
    incrementally (rolling windows over byte streams)."""
    d = load(spark, sf_dir, "documents").where(F.length("text") > 0)

    def roll(col):
        return F.aggregate(
            F.split(col, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * 31 + F.ascii(ch)) % 1000000007,
        )

    return d.select(
        "doc_id",
        roll(F.col("text")).alias("content_hash"),
        roll(F.substring("text", 1, 100)).alias("prefix_hash"),
    )


@query(
    "sample_stratified",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, text,
                   list_distinct(string_split(lower(text), ' ')) AS tokset
            FROM documents
        ),
        s AS (
            SELECT doc_id, text, {_LANG_SCORES}
            FROM t
        ),
        langed AS (
            SELECT doc_id, text,
                   CASE
                       WHEN greatest(score_en, score_es, score_de, score_fr) = 0
                           THEN 'und'
                       WHEN score_en = greatest(score_en, score_es, score_de, score_fr)
                           THEN 'en'
                       WHEN score_es = greatest(score_en, score_es, score_de, score_fr)
                           THEN 'es'
                       WHEN score_de = greatest(score_en, score_es, score_de, score_fr)
                           THEN 'de'
                       ELSE 'fr'
                   END AS predicted_lang
            FROM s
        )
        SELECT doc_id AS id, predicted_lang,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
                   AS bucket
        FROM langed
        WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 <
              CASE WHEN predicted_lang = 'en' THEN 10 ELSE 50 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic sampling — the corpus-balance
    op: downsample the dominant language (en → 10%) while keeping
    minority languages at 50%. The per-row hash bucket is md5-derived,
    so the sample is reproducible across engines, runs, and
    partitionings (rand()/TABLESAMPLE are neither), and the rate table
    is a per-stratum CASE — at 100 TB this is one codegen'd scan with
    zero shuffle (langid + hash + filter are all row-local)."""
    langed = TA.language_id(load(spark, sf_dir, "documents"), "doc_id", "text")
    bucket = (
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    ).alias("bucket")
    rate = F.when(F.col("predicted_lang") == "en", 10).otherwise(50)
    return (
        langed.select("id", "predicted_lang", bucket)
        .where(F.col("bucket") < rate)
    )


@query(
    "text_tfidf",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS cnt
            FROM toks WHERE term <> ''
            GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        ranked AS (
            SELECT tf.doc_id, tf.term, tf.cnt, df.df,
                   ROW_NUMBER() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY (tf.cnt::DOUBLE * n.n_docs) / df.df DESC,
                                tf.term
                   ) AS rnk
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id AS id, term, cnt, df, rnk
        FROM ranked WHERE rnk <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF: top-3 highest-scoring terms per document. The
    score is kept RATIONAL — (cnt * N_docs) / df, a single IEEE divide
    of small integers — so ranking is bit-identical across engines (a
    log()-based idf would differ in the last ulp between libm and
    java.lang.Math and flip near-ties); doc length is constant within
    a ranking partition so omitting it preserves the per-doc order.
    Three shuffles total at any scale: tf on (doc_id, term) with
    map-side combine, df derived from tf (one row per distinct
    (doc,term), so no COUNT DISTINCT expansion), tf⋈df on term (AQE
    re-plans if the vocabulary side fits broadcast), and the per-doc
    top-k window on doc_id. N_docs is a 1-row broadcast."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = widen(docs).select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        ((F.col("cnt").cast("double") * F.col("n_docs")) / F.col("df")).desc(),
        "term",
    )
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(F.col("doc_id").alias("id"), "term", "cnt", "df", "rnk")
    )


@query(
    "text_readability",
    oracle="""
        WITH m AS (
            SELECT doc_id,
                   GREATEST(len(regexp_extract_all(text, '[^ ]+')), 1)
                       AS n_words,
                   GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                       AS n_sentences,
                   GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                            1) AS n_syllables
            FROM documents
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_sentences AS BIGINT) AS n_sentences,
               CAST(n_syllables AS BIGINT) AS n_syllables,
               -- floor-based half-up rounding: engine-stable on exact
               -- .5 ties where ROUND() implementations disagree
               FLOOR((0.39::DOUBLE * n_words / n_sentences
                      + 11.8::DOUBLE * n_syllables / n_words - 15.59::DOUBLE) * 10000
                     + 0.5) / 10000.0 AS fk_grade,
               FLOOR((206.835::DOUBLE - 1.015::DOUBLE * n_words / n_sentences
                      - 84.6::DOUBLE * n_syllables / n_words) * 10000
                     + 0.5) / 10000.0 AS reading_ease
        FROM m
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade + reading ease per document — the
    readability gate in quality-filter stacks (too-low AND too-high
    grades both correlate with junk). Syllables are estimated as
    vowel groups — the standard cheap proxy, identical regex on both
    engines. Every metric derives from three exact integer counts,
    so the float formulas see identical inputs cross-engine; pure
    whole-stage-codegen'd regexp_count expressions, zero Python,
    zero shuffle — a 100 TB scan-only pass."""
    d = load(spark, sf_dir, "documents")
    n_words = F.greatest(F.regexp_count("text", F.lit("[^ ]+")), F.lit(1))
    n_sent = F.greatest(F.regexp_count("text", F.lit("[.!?]+")), F.lit(1))
    n_syl = F.greatest(
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")), F.lit(1)
    )
    return d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_sent.cast("bigint").alias("n_sentences"),
        n_syl.cast("bigint").alias("n_syllables"),
        # floor-based half-up rounding — identical doubles feed an
        # identical floor on both engines, so the exact-.5 ties that
        # split ROUND() implementations (observed at sf0.1: 25.22625
        # → .2263 Spark / .2262 DuckDB) cannot diverge
        (
            F.floor(
                (0.39 * n_words / n_sent + 11.8 * n_syl / n_words - 15.59)
                * 10000
                + 0.5
            )
            / 10000.0
        ).alias("fk_grade"),
        (
            F.floor(
                (206.835 - 1.015 * n_words / n_sent - 84.6 * n_syl / n_words)
                * 10000
                + 0.5
            )
            / 10000.0
        ).alias("reading_ease"),
    )


@query(
    "text_ngram_novelty",
    oracle="""
        WITH words AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   concat_ws(' ', w[i], w[i+1], w[i+2]) AS g
            FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 3
        ),
        df AS (SELECT g, COUNT(*) AS n_docs FROM grams GROUP BY g)
        SELECT grams.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               ROUND(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS novelty
        FROM grams JOIN df ON grams.g = df.g
        GROUP BY grams.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the share of a doc's distinct
    word trigrams that appear NOWHERE else in the corpus. Low novelty
    = templated/duplicated content (cut it); implausibly high novelty
    on a large corpus = noise. The memorization-risk screen from the
    dedup literature, inverted into a per-doc score.

    One exploded distinct trigram relation feeds BOTH the document
    frequency count and the per-doc rollup (self-join on the gram
    key — hash-partitioned; gram frequencies are Zipfian but the
    hot grams are exactly the non-novel ones, counted not joined
    row-wise). Two shuffles total at any scale.

    r8 exponent fix (the r7b scaling rows put this at 42.5 s / sf1,
    exp ~0.96): the trigram lambda indexed the raw ``F.split``
    EXPRESSION, and Catalyst has no CSE inside higher-order functions
    (the cp_keys lesson) — every gram re-split the whole document 3×,
    O(words·len) per doc. The split now materializes once per row
    behind a persist barrier, the lambda indexes the bound column,
    and the explode is widened first (the dsir rule). Measured
    1.30 / 1.73 / 3.44 s at sf0.1/0.3/1 — sf1 42.5 → 3.44 s,
    exponent 0.96 → 0.42."""
    from spark_query_engine.operators import carry_caches

    docs = load(spark, sf_dir, "documents")
    # guard BEFORE the sequence: a 2-word doc would otherwise build
    # sequence(0, -1), which Spark interprets as a DESCENDING range
    words = (
        widen(docs)
        .select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size("w") >= 3)
        # persist barrier: CollapseProject would re-inline the split
        # into every w[i] reference of the gram lambda
        .persist()
    )
    w = F.col("w")
    grams = (
        words.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - 3),
                    lambda i: F.concat_ws(
                        " ", w[i], w[i + 1], w[i + 2]
                    ),
                )
            ).alias("g"),
        )
        .distinct()
        .persist()
    )
    grams = carry_caches(grams, words)
    df_counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        grams.join(df_counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


#: DuckDB ``toks(source, tok)`` CTE: each non-empty lower-cased
#: space-split token of ``documents`` with its source.
_SOURCE_TOKS_SQL = """toks AS (
            SELECT source, lower(tok) AS tok FROM (
                SELECT source, UNNEST(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        )"""


@query(
    "corpus_topic_keywords",
    oracle=f"""
        WITH {_SOURCE_TOKS_SQL},
        st AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        stot AS (SELECT source, SUM(c) AS n FROM st GROUP BY source),
        gtot AS (SELECT tok, SUM(c) AS g FROM st GROUP BY tok),
        alltot AS (SELECT SUM(c) AS t FROM st),
        lift AS (
            SELECT st.source, st.tok, st.c,
                   ROUND((st.c * 1.0 / stot.n) / (gtot.g * 1.0 / alltot.t),
                         6) AS lift
            FROM st
            JOIN stot ON st.source = stot.source
            JOIN gtot ON st.tok = gtot.tok
            CROSS JOIN alltot
            WHERE st.c >= 5
        )
        SELECT source, tok, c AS n_occurrences, lift,
               CAST(rn AS BIGINT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY lift DESC, tok
            ) AS rn
            FROM lift
        ) WHERE rn <= 5
    """,
)
def corpus_topic_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive keywords (c-TF-IDF / log-odds family):
    rank each source's tokens by LIFT — in-source frequency share
    over corpus-wide share — the readout that tells you what a data
    source is actually about before you weight it in the mix. A
    min-count floor (c ≥ 5) suppresses the rare-token lift explosion.

    Shapes: one token-count shuffle keyed (source, token) with
    map-side combine, the corpus totals joined back on the token key
    (hash join — the token relation is Zipfian but counts are
    pre-aggregated), a 1-row grand total broadcast, and top-5 per
    source via WindowGroupLimit. Lift ratios divide exact integer
    counts, so the 6dp rounding is engine-stable."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        widen(docs).select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .where(F.col("tok") != "")
        .select("source", F.lower("tok").alias("tok"))
    )
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    st = st.persist()
    stot = st.groupBy("source").agg(F.sum("c").alias("n"))
    gtot = st.groupBy("tok").agg(F.sum("c").alias("g"))
    alltot = st.agg(F.sum("c").alias("t"))
    lift = (
        st.where(F.col("c") >= 5)
        .join(stot, "source")
        .join(gtot, "tok")
        .crossJoin(F.broadcast(alltot))
        .select(
            "source",
            "tok",
            "c",
            F.round(
                (F.col("c") / F.col("n")) / (F.col("g") / F.col("t")), 6
            ).alias("lift"),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("lift").desc(), "tok")
    return (
        lift.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "source",
            "tok",
            F.col("c").alias("n_occurrences"),
            "lift",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@query(
    "text_langid_confusion",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   list_distinct(string_split(lower(text), ' ')) AS tokset
            FROM documents
        ),
        s AS (SELECT doc_id, lang, {_LANG_SCORES} FROM t),
        p AS (
            SELECT lang AS true_lang,
                   CASE
                       WHEN greatest(score_en, score_es, score_de, score_fr)
                            = 0 THEN 'und'
                       WHEN score_en = greatest(score_en, score_es,
                                                score_de, score_fr)
                           THEN 'en'
                       WHEN score_es = greatest(score_en, score_es,
                                                score_de, score_fr)
                           THEN 'es'
                       WHEN score_de = greatest(score_en, score_es,
                                                score_de, score_fr)
                           THEN 'de'
                       ELSE 'fr'
                   END AS predicted
            FROM s
        ),
        cm AS (
            SELECT true_lang, predicted, COUNT(*) AS n
            FROM p GROUP BY 1, 2
        ),
        tot AS (SELECT true_lang, SUM(n) AS t FROM cm GROUP BY 1)
        SELECT cm.true_lang, cm.predicted, cm.n,
               ROUND(cm.n * 1.0 / tot.t, 6) AS share
        FROM cm JOIN tot USING (true_lang)
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the eval harness for the
    heuristic classifier: cross-tabulate the documents table's TRUE
    lang column against ``text_langid``'s prediction, with per-class
    recall shares. The readout that decides whether the stopword
    heuristic is good enough to gate a multilingual mix, and where it
    bleeds (which languages confuse into which).

    One classification scan (the same codegen'd stopword-overlap
    expressions as text_langid), one (true, predicted) count, one
    per-class total join — the matrix relation is |langs|², never
    corpus-sized."""
    from spark_query_engine.operators import textanalysis as TA

    docs = load(spark, sf_dir, "documents")
    pred = TA.language_id(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), F.col("predicted_lang").alias("predicted")
    )
    cm = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cm.groupBy("true_lang").agg(F.sum("n").alias("t"))
    return cm.join(tot, "true_lang").select(
        "true_lang",
        "predicted",
        "n",
        F.round(F.col("n") / F.col("t"), 6).alias("share"),
    )


@query(
    "text_entropy_filter",
    oracle="""
        WITH chars AS (
            SELECT doc_id, substr(text, i, 1) AS ch
            FROM (SELECT doc_id, text,
                         unnest(range(1, length(text) + 1)) AS i
                  FROM documents)
        ),
        dist AS (
            SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2
        ),
        tot AS (SELECT doc_id, SUM(c) AS n FROM dist GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
               ROUND(SUM(-(d.c * 1.0 / t.n) * log2(d.c * 1.0 / t.n)), 6)
                   AS entropy_bits,
               SUM(-(d.c * 1.0 / t.n) * log2(d.c * 1.0 / t.n)) >= 3.0
                   AS keep
        FROM dist d JOIN tot t USING (doc_id)
        GROUP BY d.doc_id
    """,
)
def text_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality gate — the cheapest degenerate-text
    detector there is: natural language sits near 4-4.5 bits/char of
    unigram entropy, while keyboard mash, repeated padding, and
    base64 blobs fall far outside; the ≥3-bit keep gate cuts the
    degenerate tail. One explode + (doc, char)-keyed count + per-doc
    rollup; each doc's term count is bounded by the alphabet. The
    p·log2(p) terms divide exact integers so both engines sum
    identical doubles (rounded at 6dp for partial-agg order).

    Float-sum audit (round 5): this SUM is alphabet-bounded (≤ ~100
    terms of magnitude ≤ 0.53), so summation-order error is ~1e-15
    absolute — a 6dp/3.0-gate flip needs the true value within 1e-15
    of a boundary (~1e-9 per doc). Justified as-is; contrast the
    corpus-sized sums (sim_mass, norm_mass, dsir log_weight,
    covariance) converted to exact integer moments."""
    d = load(spark, sf_dir, "documents")
    chars = widen(d).select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    )
    dist = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = dist.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    term = -p * F.log2(p)
    return (
        dist.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
            F.round(F.sum(term), 6).alias("entropy_bits"),
            (F.sum(term) >= 3.0).alias("keep"),
        )
    )


@query(
    "text_zipf_fit",
    oracle="""
        WITH toks AS (
            SELECT lower(tok) AS tok FROM (
                SELECT UNNEST(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ),
        freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        ranked AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r
            FROM freq
            ORDER BY c DESC, tok
            LIMIT 200
        )
        SELECT COUNT(*) AS n_points,
               ROUND(regr_slope(log2(c * 1.0), log2(r * 1.0)), 4)
                   AS zipf_slope,
               ROUND(regr_r2(log2(c * 1.0), log2(r * 1.0)), 4) AS r2
        FROM ranked
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit audit: regress log-frequency on log-rank over
    the top-200 vocabulary and report the slope — natural-language
    corpora sit near −1 with high R²; synthetic, templated, or
    machine-generated text bends away (THE distribution-level
    fingerprint that survives any document-level laundering, so it
    anchors corpus forensics). Token counting is one
    map-side-combined aggregation; the rank runs only on the top-200
    relation (TakeOrderedAndProject feeds it), and the regression is
    Spark's built-in ``regr_slope``/``regr_r2`` over 200 points —
    both engines share the textbook estimator, 4dp-rounded against
    partial-sum ordering.

    Finding on this repo's synthetic corpus: vocab 31, slope −0.18,
    R² 0.06 — loudly NOT Zipfian, which is precisely the
    machine-generated signature the audit exists to flag; a natural
    corpus would show slope ≈ −1, R² > 0.95."""
    d = load(spark, sf_dir, "documents")
    toks = (
        widen(d).select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .select(F.lower("tok").alias("tok"))
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    top = freq.orderBy(F.col("c").desc(), "tok").limit(200)
    w = Window.orderBy(F.col("c").desc(), "tok")
    ranked = top.withColumn("r", F.row_number().over(w))
    lx = F.log2(F.col("r") * 1.0)
    ly = F.log2(F.col("c") * 1.0)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.expr("regr_slope(log2(c * 1.0), log2(r * 1.0))"), 4).alias(
            "zipf_slope"
        ),
        F.round(F.expr("regr_r2(log2(c * 1.0), log2(r * 1.0))"), 4).alias(
            "r2"
        ),
    )


@query(
    "text_lexical_diversity",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lower(tok) AS tok FROM (
                SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ),
        tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               ROUND(COUNT(*) * 1.0 / SUM(c), 6) AS ttr,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax,
               ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS hapax_share
        FROM tf GROUP BY doc_id
    """,
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document: type-token ratio and hapax
    (once-only) share — low TTR flags repetitive/templated text from
    the vocabulary side, complementing the repetition screens that
    work from n-gram runs; hapax share separates 'rich vocabulary'
    from 'random strings' when read with the entropy gate. One
    (doc, token) count, one per-doc rollup, exact-integer ratios."""
    d = load(spark, sf_dir, "documents")
    tf = (
        widen(d).select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", F.lower("tok").alias("tok"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("ttr"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_share"),
    )


@query(
    "corpus_vocab_coverage",
    oracle="""
        WITH toks AS (
            SELECT lower(tok) AS tok FROM (
                SELECT UNNEST(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        ),
        freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        ranked AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r
            FROM freq
        ),
        tot AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM ranked),
        ks AS (SELECT UNNEST([1, 5, 10, 25]) AS k)
        SELECT ks.k,
               tot.v AS vocab_size,
               CAST(COALESCE(SUM(rk.c), 0) AS BIGINT) AS covered,
               ROUND(COALESCE(SUM(rk.c), 0) * 1.0 / tot.t, 6)
                   AS coverage
        FROM ks
        CROSS JOIN tot
        LEFT JOIN ranked rk ON rk.r <= ks.k
        GROUP BY ks.k, tot.v, tot.t
    """,
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage curve: the share of all token OCCURRENCES
    the top-k types account for, at k ∈ {{1,5,10,25}} — the Zipf
    audit's actionable complement (it sizes the tokenizer's
    high-frequency budget and predicts cache hit rates for
    embedding-lookup layers). One token count; the ranked prefix
    sums run over the k≤25 head of the frequency relation
    (TakeOrderedAndProject-sized), joined against a 4-row k
    dimension; exact integers to the final share."""
    d = load(spark, sf_dir, "documents")
    freq = (
        widen(d).select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy(F.lower("tok").alias("tok"))
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    tot = freq.agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("v")
    )
    w = Window.orderBy(F.col("c").desc(), "tok")
    head = (
        freq.orderBy(F.col("c").desc(), "tok")
        .limit(25)
        .withColumn("r", F.row_number().over(w))
    )
    ks = freq.sparkSession.createDataFrame(
        [(1,), (5,), (10,), (25,)], "k int"
    )
    cov = (
        ks.join(head, head.r <= ks.k)
        .groupBy("k")
        .agg(F.sum("c").alias("covered"))
    )
    return (
        cov.crossJoin(F.broadcast(tot))
        .select(
            "k",
            F.col("v").alias("vocab_size"),
            F.col("covered").cast("bigint").alias("covered"),
            F.round(F.col("covered") / F.col("t"), 6).alias("coverage"),
        )
    )


@query(
    "text_word_length_profile",
    oracle="""
        WITH toks AS (
            SELECT length(tok) AS wl FROM (
                SELECT UNNEST(string_split(text, ' ')) AS tok
                FROM documents
            ) WHERE tok <> ''
        )
        SELECT wl AS word_length,
               COUNT(*) AS n_words,
               ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM toks), 6)
                   AS share
        FROM toks GROUP BY wl
    """,
)
def text_word_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-length distribution over the corpus — the cheapest
    language fingerprint there is (English peaks at 3-4 chars;
    agglutinative languages and base64 junk push the tail; a spike
    at one length means templated tokens). One exploded count with a
    1-row total; read alongside the entropy gate and the Zipf audit
    as the third distribution-level forensic."""
    d = load(spark, sf_dir, "documents")
    toks = widen(d).select(
        F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    wl = toks.select(F.length("tok").alias("wl"))
    tot = wl.agg(F.count(F.lit(1)).alias("t"))
    return (
        wl.groupBy(F.col("wl").alias("word_length"))
        .agg(F.count(F.lit(1)).alias("n_words"))
        .crossJoin(F.broadcast(tot))
        .select(
            "word_length",
            "n_words",
            F.round(F.col("n_words") / F.col("t"), 6).alias("share"),
        )
    )


@query(
    "text_langid_calibration",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   list_distinct(string_split(lower(text), ' ')) AS tokset
            FROM documents
        ),
        s AS (SELECT doc_id, lang, {_LANG_SCORES} FROM t),
        p AS (
            SELECT lang AS true_lang,
                   LEAST(greatest(score_en, score_es, score_de, score_fr), 4)
                       AS conf_bin,
                   CASE
                       WHEN greatest(score_en, score_es, score_de, score_fr)
                            = 0 THEN 'und'
                       WHEN score_en = greatest(score_en, score_es,
                                                score_de, score_fr)
                           THEN 'en'
                       WHEN score_es = greatest(score_en, score_es,
                                                score_de, score_fr)
                           THEN 'es'
                       WHEN score_de = greatest(score_en, score_es,
                                                score_de, score_fr)
                           THEN 'de'
                       ELSE 'fr'
                   END AS predicted
            FROM s
        ),
        b AS (
            SELECT conf_bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN predicted = true_lang
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
            FROM p GROUP BY conf_bin
        ),
        g AS (
            SELECT CAST(SUM(n) AS BIGINT) AS total,
                   CAST(SUM(ABS(4 * n_correct - n * conf_bin)) AS BIGINT)
                       AS ece_num
            FROM b
        )
        SELECT CAST(conf_bin AS BIGINT) AS conf_bin, n, n_correct,
               ROUND(n_correct * 1.0 / n, 6) AS accuracy,
               ROUND(conf_bin / 4.0, 6) AS confidence,
               ROUND(ABS(4 * n_correct - n * conf_bin) / 4.0 / n, 6)
                   AS calibration_gap,
               ROUND(ece_num / 4.0 / total, 6) AS ece
        FROM b, g
    """,
)
def text_langid_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error for the
    stopword language classifier — the calibration audit that pairs
    with ``text_langid_confusion`` (which measures WHERE it errs,
    this measures whether its CONFIDENCE means anything): bin docs by
    the classifier's confidence (stopword hits, capped at 4 = the
    quality_score saturation point, so confidence = hits/4), and per
    bin compare claimed confidence against empirical accuracy. A
    well-calibrated gate lets the mix planner trust per-bucket
    routing; a badly calibrated one means the confidence column is
    decoration.

    Float discipline (exact-integer-moment class): accuracy, gap, and
    ECE all reduce to ratios of INTEGER aggregates — ECE =
    Σ_b |acc_b − conf_b|·n_b/N = Σ_b |4·n_correct_b − n_b·bin_b| /
    (4N), so the only float ops are final single divisions; no float
    is ever summed. Scale: one classification scan (codegen'd
    stopword intersections), one 5-bucket aggregate — the reliability
    relation is O(bins), never corpus-sized."""
    from spark_query_engine.operators import textanalysis as TA

    docs = load(spark, sf_dir, "documents")
    pred = TA.language_id(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"),
        F.col("predicted_lang").alias("predicted"),
        F.least(F.col("stopword_hits"), F.lit(4)).alias("conf_bin"),
    )
    p = docs.select("doc_id", F.col("lang").alias("true_lang")).join(
        pred, "doc_id"
    )
    b = p.groupBy("conf_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("predicted") == F.col("true_lang"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_correct"),
    )
    gap_num = F.abs(4 * F.col("n_correct") - F.col("n") * F.col("conf_bin"))
    g = b.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.sum(F.abs(4 * F.col("n_correct") - F.col("n") * F.col("conf_bin")))
        .cast("bigint")
        .alias("ece_num"),
    )
    return b.crossJoin(F.broadcast(g)).select(
        F.col("conf_bin").cast("bigint").alias("conf_bin"),
        "n",
        "n_correct",
        F.round(F.col("n_correct") * 1.0 / F.col("n"), 6).alias("accuracy"),
        F.round(F.col("conf_bin") / 4.0, 6).alias("confidence"),
        F.round(gap_num / 4.0 / F.col("n"), 6).alias("calibration_gap"),
        F.round(F.col("ece_num") / 4.0 / F.col("total"), 6).alias("ece"),
    )


#: Heaps-law curve resolution: vocabulary measured at this many
#: equally-spaced doc-id checkpoints.
_HEAPS_POINTS = 10


@query(
    "text_heaps_law",
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   len(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS nt
            FROM documents
        ),
        mx AS (SELECT MAX(doc_id) AS max_id FROM documents),
        cp AS (
            SELECT i AS checkpoint,
                   CAST((SELECT max_id FROM mx) * i
                        // {_HEAPS_POINTS} AS BIGINT) AS cp_doc
            FROM UNNEST(range(1, {_HEAPS_POINTS} + 1)) AS t(i)
        ),
        toks AS (
            SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
            FROM documents
        ),
        first_occ AS (
            SELECT tok, MIN(doc_id) AS fd FROM toks
            WHERE tok <> '' GROUP BY tok
        ),
        pts AS (
            SELECT c.checkpoint, c.cp_doc,
                   (SELECT CAST(SUM(nt) AS BIGINT) FROM d
                    WHERE doc_id <= c.cp_doc) AS n_tokens,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM first_occ
                    WHERE fd <= c.cp_doc) AS vocab
            FROM cp c
        ),
        m AS (
            SELECT COUNT(*) AS n,
                   MIN(vocab) = MAX(vocab) AS sat,
                   MIN(vocab) AS v0,
                   SUM(log2(n_tokens * 1.0)) AS sx,
                   SUM(log2(vocab * 1.0)) AS sy,
                   SUM(log2(n_tokens * 1.0) * log2(vocab * 1.0)) AS sxy,
                   SUM(log2(n_tokens * 1.0) * log2(n_tokens * 1.0)) AS sxx,
                   SUM(log2(vocab * 1.0) * log2(vocab * 1.0)) AS syy
            FROM pts
        )
        SELECT CAST(checkpoint AS BIGINT) AS checkpoint, cp_doc,
               n_tokens, vocab,
               CASE WHEN sat THEN 0.0
                    ELSE ROUND((n * sxy - sx * sy)
                               / (n * sxx - sx * sx), 4) + 0.0
               END AS heaps_beta,
               CASE WHEN sat THEN ROUND(log2(v0 * 1.0), 4)
                    ELSE ROUND((sy - (n * sxy - sx * sy)
                               / (n * sxx - sx * sx) * sx) / n, 4) + 0.0
               END AS heaps_log2k,
               CASE WHEN sat THEN 0.0
                    ELSE ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                         / (n * sxx - sx * sx) / (n * syy - sy * sy), 4)
                         + 0.0
               END AS r2,
               sat AS vocab_saturated
        FROM pts, m
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth audit — V(n) ≈ K·n^β — the
    companion to ``text_zipf_fit`` (natural text: β ≈ 0.4-0.6;
    templated/synthetic corpora saturate early, OCR noise never
    saturates): measure the distinct-vocabulary count at
    {_HEAPS_POINTS} doc-id checkpoints and fit the log-log OLS line.
    The number that sizes tokenizer vocabularies and predicts how
    much NEW vocabulary another 10x of corpus will bring. On THIS
    synthetic corpus the audit correctly reports total saturation
    (31 types, all seen by the first checkpoint → β = 0, r2 = 0,
    ``vocab_saturated`` true) — the same non-natural-text finding
    ``text_zipf_fit`` makes from the rank-frequency side.

    Plan shape (no global sort, no global window): each type's FIRST
    occurrence is one groupBy MIN over the exploded token relation;
    cumulative vocabulary at a checkpoint = count of types with
    first_doc ≤ checkpoint, computed by fanning the type relation
    across the broadcast {_HEAPS_POINTS}-row checkpoint dimension (a
    constant-width fan-out, the CMS-dimension shape) — likewise the
    cumulative token counts over the per-doc count relation. The
    regression runs over {_HEAPS_POINTS} bounded points (the
    degree-powerlaw bounded-term class). At 100 TB the type relation
    is vocabulary-sized (sublinear in corpus bytes), the fan-out
    constant, and nothing ever sorts the corpus globally."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.lower("text"), " "), lambda t: t != F.lit("")
            )
        ).alias("nt"),
    )
    mx = docs.agg(F.max("doc_id").alias("max_id"))
    cp = (
        spark.range(1, _HEAPS_POINTS + 1)
        .select(F.col("id").alias("checkpoint"))
        .crossJoin(F.broadcast(mx))
        .select(
            "checkpoint",
            F.expr(f"CAST(max_id * checkpoint div {_HEAPS_POINTS} AS BIGINT)")
            .alias("cp_doc"),
        )
    )
    toks = widen(docs).select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    first_occ = toks.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    tok_cum = (
        d.crossJoin(F.broadcast(cp))
        .where(F.col("doc_id") <= F.col("cp_doc"))
        .groupBy("checkpoint", "cp_doc")
        .agg(F.sum("nt").cast("bigint").alias("n_tokens"))
    )
    voc_cum = (
        first_occ.crossJoin(F.broadcast(cp))
        .where(F.col("fd") <= F.col("cp_doc"))
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    )
    pts = tok_cum.join(voc_cum, "checkpoint")
    x = F.log2(F.col("n_tokens") * 1.0)
    y = F.log2(F.col("vocab") * 1.0)
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        (F.min("vocab") == F.max("vocab")).alias("sat"),
        F.min("vocab").alias("v0"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    beta = num / den
    sat = F.col("sat")
    return pts.crossJoin(F.broadcast(m)).select(
        F.col("checkpoint").cast("bigint").alias("checkpoint"),
        "cp_doc",
        "n_tokens",
        "vocab",
        F.when(sat, F.lit(0.0))
        .otherwise(F.round(beta, 4) + 0.0)
        .alias("heaps_beta"),
        F.when(sat, F.round(F.log2(F.col("v0") * 1.0), 4))
        .otherwise(
            F.round((F.col("sy") - beta * F.col("sx")) / F.col("n"), 4) + 0.0
        )
        .alias("heaps_log2k"),
        F.when(sat, F.lit(0.0))
        .otherwise(F.round(num * num / den / deny, 4) + 0.0)
        .alias("r2"),
        sat.alias("vocab_saturated"),
    )
