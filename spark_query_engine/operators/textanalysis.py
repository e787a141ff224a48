"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

Pure expression pipelines (split / array ops / md5) — no UDFs, fully
codegen'd, and every computation is integer- or string-exact so the
DuckDB oracle reproduces it bit-for-bit. Ratios are rounded at 6dp
(numerator/denominator are exact ints; one double division is
engine-identical).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_query_engine.operators import widen

#: Tiny per-language stopword lists for the n-gram/stopword heuristic.
#: Deliberately minimal — language ID here is a deterministic, cheap
#: heuristic suited to corpus bucketing, not a model.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "que", "los", "en", "un"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "zu"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "est"],
}


def _tokens(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), " ")


def char_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, bg) relation of every character bigram occurrence — the
    shared input of the bigram-LM family (lm_score, ccnet buckets,
    DSIR, the hashing-trick classifier). Generates positions with an
    integer ``sequence`` explode and slices bigrams with ``substr``
    on the row's text, instead of materializing a per-row ARRAY of
    n-1 two-char strings before exploding — measured 9% faster at
    the 10x replica scale (r5g scaling run) with identical output,
    because the codegen'd pipeline never allocates the string array.
    Callers persist when they traverse the relation more than once
    (measured: recompute is worse than the spill at sf1).

    Texts shorter than 2 chars yield no rows — guarded explicitly,
    because ``sequence(1, len-1)`` on len<2 builds a DESCENDING range
    (the Spark trap the word-trigram query documents) and would emit
    junk pseudo-bigrams.

    ``widen`` first (round 7): a single-file documents table arrives
    as ONE input split, and the ~chars-per-doc explode fan-out then
    runs on one core — measured 27 s for 16.5 M bigrams at the 10×
    replica scale, the whole superlinearity of ``corpus_dsir_select``
    (exponent 1.11 → the explode was serial while the data grew).
    The pre-explode repartition shuffles only the raw doc rows."""
    return (
        widen(df)
        .where(F.length(text_col) >= 2)
        .select(
            id_col,
            text_col,
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - 1)
            ).alias("__i"),
        )
        .select(
            id_col,
            F.col(text_col).substr(F.col("__i"), F.lit(2)).alias("bg"),
        )
    )


def lang_score_sql(lang: str) -> str:
    """DuckDB fragment for the stopword-overlap score of ``lang``,
    over a list column named ``tokset`` — so oracles stay in lockstep
    with STOPWORDS."""
    words = ",".join(repr(w) for w in STOPWORDS[lang])
    return f"len(list_intersect(tokset, [{words}]))"


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-overlap language ID: score(lang) = |token-set ∩
    stopwords(lang)|; predict the argmax (ties broken by fixed lang
    order), 'und' if all scores are 0."""
    tokset = F.array_distinct(_tokens(text_col))
    scores = {
        lang: F.size(F.array_intersect(tokset, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }
    langs = list(STOPWORDS)
    # argmax with deterministic ties: first lang (fixed order) whose
    # score equals the max; 'und' when every score is 0
    max_score = F.greatest(*scores.values())
    predicted = None
    for lang in langs:
        c = (scores[lang] == max_score) & (max_score > 0)
        predicted = F.when(c, lang) if predicted is None else predicted.when(c, lang)
    predicted = predicted.otherwise("und")
    return widen(df).select(
        F.col(id_col).alias("id"),
        predicted.alias("predicted_lang"),
        max_score.cast("int").alias("stopword_hits"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic document quality: length, mean token length, stopword
    ratio, alpha ratio, distinct-token ratio → a 0..1 score. The
    classic cheap pre-filter before expensive pipeline stages."""
    toks = _tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z]", ""))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), en_stop))
    n_distinct = F.size(F.array_distinct(toks))
    mean_tok_len = F.round((n_chars - (n_tok - 1)) / n_tok, 6)
    alpha_ratio = F.round(n_alpha / n_chars, 6)
    distinct_ratio = F.round(n_distinct / n_tok, 6)
    # round to 8dp: the 0.25-weighted sum of 6dp terms lies on a
    # 2.5e-7 grid, so 6dp rounding hits exact half-cases (which Spark
    # and other engines resolve differently); the 1e-8 grid does not.
    score = F.round(
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.25
        + alpha_ratio * 0.25
        + distinct_ratio * 0.25
        + F.least(n_stop / 4.0, F.lit(1.0)) * 0.25,
        8,
    )
    return widen(df).select(
        F.col(id_col).alias("id"),
        n_tok.cast("bigint").alias("n_tokens"),
        n_chars.cast("bigint").alias("n_chars_computed"),
        mean_tok_len.alias("mean_token_len"),
        alpha_ratio.alias("alpha_ratio"),
        distinct_ratio.alias("distinct_token_ratio"),
        score.alias("quality_score"),
    )


#: BPE-style pre-tokenizer: letter runs | digit runs | single
#: punctuation — the GPT-2-ish split that precedes merge rules. The
#: character-class-only pattern behaves identically under Java regex
#: (Spark) and RE2 (DuckDB).
BPE_PRETOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting: whitespace tokens, a BPE-style regex
    pre-tokenizer count, and a ceil(len/4) subword estimate (the
    ~4-chars-per-token heuristic) — all integer-exact."""
    toks = _tokens(text_col)
    bpe_ish = F.aggregate(
        F.transform(toks, lambda t: F.ceil(F.length(t) / 4.0)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return widen(df).select(
        F.col(id_col).alias("id"),
        F.size(toks).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(text_col, F.lit(BPE_PRETOKEN_RE), 0))
        .cast("bigint")
        .alias("n_regex_tokens"),
        bpe_ish.alias("n_bpe_ish_tokens"),
        F.ceil(F.length(text_col) / 4.0).cast("bigint").alias("n_char4_tokens"),
    )


def repetition_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition screens: the most frequent unigram's
    share of tokens, the most frequent word-bigram's count, and the
    fraction of trigram occurrences belonging to a REPEATED trigram —
    the signals that catch boilerplate, keyword stuffing, and
    copy-paste loops that length/stopword heuristics miss.

    Plan: one n-gram relation (1/2/3-grams unioned with a size tag,
    all map-side array expressions), one hash aggregation to per-(doc,
    n, gram) counts, one to per-doc metrics — two key-partitioned
    shuffles with map-side combine, both on (doc, gram)-grain keys
    that scale out; never a per-doc O(|grams|²) array scan."""
    toks = F.split(F.col(text_col), " ")
    base = widen(df).select(F.col(id_col).alias("id"), toks.alias("t"))

    def grams(n: int) -> DataFrame:
        if n == 1:
            g = F.col("t")
        else:
            g = F.transform(
                F.sequence(F.lit(0), F.size("t") - n),
                lambda i: F.concat_ws(
                    " ", *[F.get("t", i + j) for j in range(n)]
                ),
            )
        return base.where(F.size("t") >= n).select(
            "id", F.lit(n).alias("n"), F.explode(g).alias("g")
        )

    counts = (
        grams(1)
        .unionAll(grams(2))
        .unionAll(grams(3))
        .groupBy("id", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n1 = F.sum(F.when(F.col("n") == 1, F.col("c")))
    n3 = F.sum(F.when(F.col("n") == 3, F.col("c")))
    top1 = F.max(F.when(F.col("n") == 1, F.col("c")))
    top2 = F.max(F.when(F.col("n") == 2, F.col("c")))
    dup3 = F.coalesce(
        F.sum(F.when((F.col("n") == 3) & (F.col("c") >= 2), F.col("c"))),
        F.lit(0),
    )
    return counts.groupBy("id").agg(
        n1.cast("bigint").alias("n_tokens"),
        top1.cast("bigint").alias("top_unigram_count"),
        top2.cast("bigint").alias("top_bigram_count"),
        dup3.cast("bigint").alias("dup_trigram_tokens"),
        F.round(top1 / n1, 6).alias("top_unigram_frac"),
        F.round(dup3 / n3, 6).alias("dup_trigram_frac"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprints: raw md5, normalized md5 (lower +
    whitespace-collapse), and an order-insensitive token-set
    fingerprint (md5 of the sorted distinct tokens) — the standard
    keys for exact / near-layout / bag-of-words dedup respectively."""
    normalized = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " ")
    )
    tokset_fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens(text_col))))
    )
    return widen(df).select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("md5_raw"),
        F.md5(normalized).alias("md5_normalized"),
        tokset_fp.alias("token_set_fp"),
    )


def span_dup_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Sub-document span duplication statistics (the RefinedWeb-style
    boilerplate screen): cut each document into consecutive
    non-overlapping ``k``-token spans and count, per document, how
    many of its spans also appear in at least one OTHER document.

    Returns (id_col, n_chunks, n_dup_chunks) — one row per document
    that produced at least one full span; callers left-join back to
    the corpus to zero-fill short documents and apply a gate.

    Scale: the span relation is O(tokens/k) rows; duplicate detection
    is one hash aggregation keyed on span text (map-side combine
    collapses in-partition repeats) plus an equi-join back — the same
    blocked shape as n-gram Jaccard dedup, never all-pairs. At 100 TB
    hash the span to 8 bytes (xxhash64) for the join key; kept as
    text here so SQL oracles replay it verbatim.
    """
    toks = df.select(id_col, F.split(text_col, " ").alias("t"))
    chunks = toks.select(
        id_col,
        F.explode(
            F.expr(
                f"CASE WHEN size(t) >= {k} THEN "
                f"transform(sequence(0L, CAST(size(t) DIV {k} AS LONG) - 1), "
                f"i -> concat_ws(' ', slice(t, CAST(i*{k} + 1 AS INT), {k}))) "
                f"ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("chunk"),
    )
    dup = chunks.groupBy("chunk").agg(
        F.countDistinct(id_col).alias("nd")
    )
    return (
        chunks.join(dup, "chunk")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_dup_chunks"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003): hash
    every char ``k``-gram, slide a window of ``w`` consecutive
    hashes, select each window's minimum hash (ties → rightmost
    position). Returns (id, pos, h): the selected fingerprint
    positions with their k-gram hashes — one row per selected
    position, 1-based ``pos``.

    Guarantee: two documents sharing any substring of length ≥
    k + w - 1 share at least one selected fingerprint VALUE, with
    expected density 2/(w+1) — the property mod-p sampling lacks
    (a match can fall between samples there).

    Run-length selection per document, ZERO shuffle, no fan-out: p is
    the rightmost-minimum of some window iff ``r_run(p) + l_run(p) ≥
    w - 1``, where r_run counts how many IMMEDIATELY following hashes
    are strictly greater (capped at w-1; strict, because an equal
    hash to the right would win the tie) and l_run counts how many
    immediately preceding hashes are ≥ (weak: rightmost-preference
    lets p beat equal hashes on its left). Boundary windows fall out
    automatically because a run cannot extend past the document's
    last k-gram. Equivalence with the paper's per-window algorithm is
    property-tested against a sequential implementation
    (tests/test_training_ops.py::test_winnow_matches_sequential).

    The scan is one Arrow-batched mapInPandas: hashlib md5 produces
    the SAME hex string Spark's md5 does (UTF-8 bytes; Python slicing
    = substr character semantics), numpy vectorizes the run counts
    per document, and hex comparison is byte-lexicographic in both
    engines. Only selected positions leave the scan. An array-of-
    hashes formulation in JVM expressions ran its per-position run
    logic at interpreted rates (higher-order lambdas never enter
    codegen): measured on the count of the fingerprint relation,
    min-of-2, sf0.1 3.46 → 0.66 s, sf0.3 10.15 → 0.88 s, sf1 ~36 →
    ~1.9 s, and a wash at 500 docs."""
    base = widen(df.where(F.length(text_col) >= k + w - 1)).select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("__t")
    )

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, poss, hss = [], [], []
            for did, t in zip(pdf["id"], pdf["__t"]):
                nh = len(t) - (k - 1)
                hs = np.array(
                    [
                        hashlib.md5(t[i:i + k].encode("utf-8")).hexdigest()
                        for i in range(nh)
                    ],
                    dtype="<U32",
                )
                run = np.zeros(nh, dtype=np.int64)
                for sign, strict in ((1, True), (-1, False)):
                    cont = np.ones(nh, dtype=bool)
                    for j in range(1, w):
                        ok = np.zeros(nh, dtype=bool)
                        if sign > 0:
                            if nh > j:
                                ok[: nh - j] = (
                                    hs[j:] > hs[: nh - j]
                                    if strict
                                    else hs[j:] >= hs[: nh - j]
                                )
                        else:
                            if nh > j:
                                ok[j:] = (
                                    hs[: nh - j] > hs[j:]
                                    if strict
                                    else hs[: nh - j] >= hs[j:]
                                )
                        cont &= ok
                        run += cont
                sel = np.nonzero(run >= w - 1)[0]
                if len(sel):
                    ids.append(np.full(len(sel), did, dtype=np.int64))
                    poss.append((sel + 1).astype(np.int32))
                    hss.append(hs[sel])
            if ids:
                yield pd.DataFrame(
                    {
                        "id": np.concatenate(ids),
                        "pos": np.concatenate(poss),
                        "h": np.concatenate(hss),
                    }
                )

    return base.mapInPandas(gen, "id long, pos int, h string")


def _bpe_word_types(df: DataFrame, text_col: str) -> DataFrame:
    """The word-TYPE relation (w, f, t): one map-side-combined count
    over the corpus, chars split per type. |vocab| rows, never
    corpus-scale."""
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return words.select(
        "w",
        "f",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .alias("t"),
    )


def _bpe_pair_winner(toks: DataFrame, r: int) -> DataFrame:
    """One round's winning merge as a 1-ROW RELATION: pair counts
    keyed (a, b) with map-side combine, winner by (count desc, pair
    asc) as a TakeOrdered — never collected; it rides back into the
    merge fold as a broadcast join (the kmeans‖ job-merge pattern)."""
    pairs = toks.where(F.size("t") >= 2).select(
        "f",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i-1] AS a, t[i] AS b))"
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy("p.a", "p.b")
        .agg(F.sum("f").alias("c"))
        .orderBy(F.col("c").desc(), "a", "b")
        .limit(1)
        .select(
            F.lit(r).alias("round"),
            F.col("a").alias("_ma"),
            F.col("b").alias("_mb"),
            F.concat("a", "b").alias("_mm"),
            F.col("c").alias("pair_count"),
        )
    )




def bpe_train(
    df: DataFrame, text_col: str, rounds: int = 3
) -> tuple[DataFrame, list[tuple[int, str, str, int]]]:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): build
    the word-frequency table, split words to characters, then per
    round (a) count adjacent token pairs weighted by word frequency,
    (b) take the most frequent pair (ties → lexicographic (a, b)),
    (c) apply the merge to every word left-to-right non-overlapping —
    exactly the classic algorithm over a frequency dict.

    Returns (tokens, merges): ``tokens`` = (w, f, t[array<string>])
    after all rounds; ``merges`` = [(round, left, right, pair_count)].

    Distributed shape: the unit of work is the WORD TYPE relation
    (|vocab| rows — millions at 100 TB, never corpus-scale), built by
    one map-side-combined count over the corpus. Per round: pair
    counts are a (a, b)-keyed hash aggregation; the winning pair is a
    1-row TakeOrdered; the merge applies as an ``aggregate`` fold
    INSIDE codegen — a narrow per-row transform, no shuffle. Rounds
    are inherently sequential (each merge changes the pair
    distribution); production runs batch non-conflicting merges per
    round to cut round count ~10× — same plan per round either way.

    MEASURED job-merge adjudication (r9, the r8 verdict's task 4):
    the kmeans‖ pattern — each round's winner riding back as a 1-row
    broadcast relation referenced by a columnar merge fold, zero
    per-round collects, one multi-stage job — was built and measured
    SLOWER at sf0.1: the merged plan pays a 4.2–4.5 s first-run
    analysis/AQE cost (vs 1.28 s for the per-round path; nested
    broadcast stages over a deep InMemoryRelation chain re-optimize
    the remaining tree at every stage boundary) and is a wash warm
    (1.25–1.47 vs 1.13 s). The per-round collects this keeps are
    VOCAB-scale jobs — the relation is |word types|, never corpus
    rows, and the winner is 1 row/round — so they stay cheap at any
    corpus size; the bounded-driver-state contract was already the
    scale design. Kept the collect loop (the r8e winnowing-wash
    precedent: measure, keep the winner), factored over
    :func:`_bpe_word_types` / :func:`_bpe_pair_winner`."""
    toks = _bpe_word_types(df, text_col).persist()
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, rounds + 1):
        top = _bpe_pair_winner(toks, r).collect()
        if not top:
            break
        a, b, c = top[0]["_ma"], top[0]["_mb"], int(top[0]["pair_count"])
        merges.append((r, a, b, c))
        new = toks.withColumn("t", _merge_fold_expr(a, b)).persist()
        toks.unpersist()
        toks = new
    from pyspark.sql import DataFrame as _DF

    from spark_query_engine.operators import release_on_drop

    # the returned token relation IS the persisted handle, and
    # weakref.finalize keeps a strong reference to its callback
    # arguments — registering the result as its own handle would pin
    # it alive forever (the round-6 leak ADVICE caught empirically).
    # Return a fresh wrapper over the same JVM plan instead: when the
    # CALLER drops the wrapper, the finalizer unpersists ``toks`` and
    # only then does the closure release it.
    result = _DF(toks._jdf, toks.sparkSession)
    return release_on_drop(result, toks), merges


def _merge_fold_expr(a: str, b: str):
    """Left-to-right non-overlapping application of one merge rule
    (a, b) -> ab over a token array column ``t``, as a codegen'd
    ``aggregate`` fold — the exact classic-BPE merge semantics."""

    def esc(s: str) -> str:
        return s.replace("'", "''")

    m = a + b
    return F.expr(
        f"aggregate(slice(t, 2, size(t) - 1), array(t[0]), "
        f"(acc, x) -> CASE WHEN element_at(acc, -1) = '{esc(a)}' "
        f"AND x = '{esc(b)}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), "
        f"array('{esc(m)}')) "
        f"ELSE concat(acc, array(x)) END)"
    )


def bpe_apply(
    df: DataFrame, text_col: str, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """BPE INFERENCE: tokenize a corpus with an already-trained merge
    table — the apply half of train/apply. Builds the word-TYPE
    relation (one map-side-combined count; |vocab| rows, never
    corpus-scale), char-splits each word, and folds every merge in
    training order as stacked codegen'd ``aggregate`` expressions —
    sequential rank-order application of pairwise merges, which for
    a rank-ordered BPE merge list reproduces training segmentation
    on seen words and degrades gracefully (partial merges over a
    char base) on unseen ones; no OOV is possible.

    The merge table is driver state folded into the expression tree
    (like k-means centroid literals) — at a production vocab size it
    ships as a broadcast map + one pandas UDF instead; the relational
    shape (word types in, segmentations out, join back to docs by
    word) is unchanged. Zero shuffles beyond the word-type count."""
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    toks = words.select(
        "w",
        "f",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .alias("t"),
    )
    for _r, a, b, _c in merges:
        toks = toks.withColumn("t", _merge_fold_expr(a, b))
    return toks


def chunk_sliding(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 32,
    stride: int = 24,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Sliding-window chunker: ``size``-token windows advancing by
    ``stride`` tokens. Returns (id, [passthrough...], chunk_idx,
    n_tokens, chunk_fp) — ``passthrough`` columns are per-document
    constants carried onto every chunk row (split labels, source tags)
    so callers never need to join chunks back to the document relation
    (a join whose other side would force the whole upstream pipeline
    to run twice).

    Pure narrow transformation (split → offset ``sequence`` →
    ``explode``): zero shuffles, zero Python, so it applies unchanged
    to a STREAMING DataFrame — stateless row-local transforms are the
    one class Structured Streaming runs with no watermark, no state
    store, and exactly the batch semantics (asserted in
    tests/test_streaming.py::test_chunk_stream_matches_batch)."""
    carry = list(passthrough or [])
    toks = F.split(F.col(text_col), " ")
    chunk = F.expr(f"slice(__tk, __st + 1, {size})")
    return (
        df.select(
            F.col(id_col).alias("id"),
            *carry,
            toks.alias("__tk"),
            F.explode(
                F.sequence(F.lit(0), F.size(toks) - 1, F.lit(stride))
            ).alias("__st"),
        )
        .select(
            "id",
            *carry,
            (F.col("__st") / stride).cast("bigint").alias("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
        )
    )
