"""Streaming event operators: windowed aggregation with watermarks,
session windows, and a parquet-backed stream source for testing.

Design notes (cluster scale):
- Watermarks bound the state store: ``withWatermark("ts", d)`` lets
  Spark drop per-window state once the event-time frontier passes
  window_end + d. Without it a windowed aggregation's state grows
  unboundedly.
- ``session_window`` is Spark's native gap-based session operator —
  the streaming twin of the batch lag/cumsum sessionization in
  queries/events.py (same 30-min-gap semantics).
- Sources here read a parquet directory (each file = a micro-batch
  when used with availableNow); swap for kafka/kinesis in production —
  nothing downstream changes.
- Per-key monoid folds (counts, sums, min/max, XOR, register MAX) are
  native streaming aggregations: the fold runs in the JVM with
  map-side partial aggregation, and the state store holds one row per
  key. ``applyInPandasWithState`` is kept for state that depends on
  arrival order or is not a monoid: LSH bucket occupants, a packing
  offset, Page's CUSUM recursion and a bottom-k set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Schema of the events stream when the driver parquet stores ts as
#: TIMESTAMP(NANOS) (read as long ns, converted like the batch
#: loader). ``stream_from_parquet_dir`` probes the actual file type
#: and swaps in a TimestampType field when the data is MICROS.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_from_parquet_dir(spark: SparkSession, path: str) -> DataFrame:
    """Unbounded readStream over a parquet directory, with the same
    nanos→timestamp conversion as the batch loader. ``ts`` becomes a
    proper event-time column usable for watermarks.

    Note: streaming reads use TimestampType (not NTZ) because
    watermarks require it; the session is pinned UTC in get_session,
    so wall values match the batch path. The file-side ts type has
    shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across
    testdata generations — probe one file's schema through the schema
    catalog (file-stream sources need a user schema, so it must match
    what the parquet actually stores) and convert accordingly. With
    mergeSchema off, Spark's own inference reads only one footer too,
    so the probe reads the first data file, not the whole directory,
    and a later call on the same source launches no job."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file-stream source requires a directory; stream a single
    # parquet file via its parent + a glob filter
    import os

    from spark_query_engine import catalog

    glob = None
    if path.endswith(".parquet") and os.path.isfile(path):
        glob = os.path.basename(path)
        probe_path = path
        path = os.path.dirname(path)
    else:
        probe_path = (catalog.data_files(path) or [path])[0]
    probed = catalog.parquet_schema(spark, probe_path)["ts"].dataType
    nanos = isinstance(probed, T.LongType)
    schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", probed)
            for f in EVENTS_RAW_SCHEMA.fields
        ]
    )
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.parquet(path)
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_from_rate(
    spark: SparkSession,
    rows_per_batch: int = 100,
    start_ts_ms: int = 1_704_067_200_000,  # 2024-01-01T00:00:00Z
    advance_ms_per_batch: int = 60_000,
    n_event_types: int = 4,
    n_users: int = 50,
) -> DataFrame:
    """Synthetic event stream from Spark's built-in ``rate-micro-batch``
    source — the second source family next to the parquet-dir reader
    (kafka/kinesis swap in with nothing downstream changing, exactly
    as here: every operator in this module consumes the same schema).

    ``rate-micro-batch`` is fully deterministic: batch b carries values
    [b·rows, (b+1)·rows) at timestamp start + b·advance, so tests can
    assert exact windowed aggregates instead of sleeping on a wall
    clock. Fields derive arithmetically from ``value`` (user, type,
    amount), giving a reproducible workload generator for state-store
    and watermark behavior at any rows/batch scale."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", start_ts_ms)
        .option("advanceMillisPerBatch", advance_ms_per_batch)
        .load()
    )
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % n_users).alias("user_id"),
        F.concat(
            F.lit("type_"), (F.col("value") % n_event_types).cast("string")
        ).alias("event_type"),
        (F.col("value") % 97).cast("double").alias("value"),
        F.lit("{}").alias("props"),
    )


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling-window counts/sums with a watermark: late events more
    than ``watermark`` behind the frontier are dropped and window
    state is evicted — bounded state at any scale."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def ohlc_stream(
    events: DataFrame, window: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming OHLC downsample — the incremental twin of the batch
    ``events_downsample_ohlc``: open/close via ``min_by``/``max_by``
    on a (ts, event_id) struct key (deterministic under duplicate
    timestamps, and — unlike the batch twin's rank windows — a pure
    aggregation, so it folds incrementally into window state instead
    of needing a sort). Watermark bounds state: closed candles evict.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window.start").alias("bucket"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window aggregation (each event in window/slide panes)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Native streaming sessionization: ``session_window(ts, gap)``
    merges events within ``gap`` into one growing session per user;
    the watermark closes sessions once no extension can arrive."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (event count, value total) that survives across
    micro-batches, on Spark's native streaming aggregation: the state
    store keeps one (count, sum) row per user_id, partitioned across
    executors, and outputMode("update") emits each user a batch
    changed. A null value adds 0.0; the total rounds to 2dp after the
    aggregate, so rounding never compounds across batches.

    At scale: state store size is O(distinct users); put the
    aggregation on an event-time window with a watermark to evict
    users that churn.
    """
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias(
            "total_value"
        ),
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    left_watermark: str = "30 minutes",
    right_watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with right
    events of the same key whose timestamp falls in
    [left.ts, left.ts + within]. Both sides carry watermarks + the
    time-range condition, so Spark can bound the join state buffer on
    both sides and evict matched/expired rows — without them, a
    stream-stream join's state grows forever.

    ``how="left_outer"`` adds the eviction-time emission semantics:
    a left row that found no partner is HELD IN STATE until the
    watermark proves no matching right row can still arrive (its
    interval end has passed both watermarks), and only then emits
    with NULL right columns. Outer results are therefore inherently
    delayed by the watermark — the price of a correct "no match"
    claim on an unbounded stream, and the reason outer stream joins
    REQUIRE the watermark + time bound while inner joins merely
    want them for state eviction.

    The classic attribution shape (impression → click within an
    hour); at scale the state store is partitioned by the join key.
    """
    l = left.select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    ).withWatermark("l_ts", left_watermark)
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    ).withWatermark("r_ts", right_watermark)
    return l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL {within}"
        ),
        how,
    )


def dedup_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact deduplication — the ingestion-time twin of the
    batch ``dedup_exact`` operator (at-least-once sources like Kafka
    redeliver; this makes the pipeline effectively-once).

    ``dropDuplicatesWithinWatermark`` keeps one state-store entry per
    key only until the event-time watermark passes that key's first
    arrival + the watermark delay, so state is bounded by the key rate
    within the dedup horizon — NOT by stream lifetime. Plain
    ``dropDuplicates`` on a stream would grow state forever; this is
    the 100 TB-safe variant.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def minhash_dedup_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
    hot_shingles: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Streaming NEAR-duplicate detection — the MinHash-band completion
    of ``dedup_stream`` (which is exact-key only): as documents arrive,
    emit every near-dup pair (id_a < id_b, exact Jaccard ≥ threshold)
    against everything seen so far, across micro-batches.

    Shape: the signature/banding projection is stateless and per-row
    (``minhash_banded_rows`` — no aggregation, so it is legal ahead of
    the stateful operator), then ONE ``applyInPandasWithState`` keyed
    by (band_idx, band_key): the state store holds each bucket's
    occupants (id + distinct-shingle set), a new arrival exact-verifies
    against its bucket peers and appends itself. Pair emission is
    symmetric in arrival order, so the DISTINCT emitted-pair set equals
    the batch ``minhash_near_duplicates`` output on the same documents
    regardless of how the stream is batched (asserted by the
    stream≡batch equivalence test).

    Scale: state is partitioned by bucket across executors; per-bucket
    work is O(occupancy²) exactly like the batch band self-join. Two
    optional hot-key guards (neither on by default — defaults match
    the batch twin exactly): ``hot_shingles``, a STATIC relation of
    boilerplate shingles excluded before hashing (the streaming-legal
    form of the batch ``max_shingle_df`` guard — a df count is an
    aggregation and cannot precede the stateful op on the stream, so
    the list is computed batch-side and ships as a literal), and
    ``max_bucket_size``, which stops appending NEW occupants to a
    bucket past the cap (arrivals still verify against the capped
    bucket, so recall within the cap is unchanged; pairs both of
    whose members overflowed the same degenerate bucket are the
    documented loss). State grows with the corpus within the dedup
    horizon — in production, bound it with
    ``GroupStateTimeout.ProcessingTimeTimeout`` + per-group timeouts
    (drop buckets idle past the horizon), the same eviction story as
    ``dedup_stream``'s watermark. Emitted Jaccard is the raw IEEE
    ratio |∩|/|∪| (unrounded; the batch twin rounds half-up at 6dp —
    compare pairs exactly and values to 5e-7)."""
    import math

    import pandas as pd  # local import: only the executor path needs it
    from pyspark.sql.streaming.state import GroupStateTimeout

    from spark_query_engine.operators.dedup import minhash_banded_rows

    banded = minhash_banded_rows(
        docs, id_col, text_col, shingle_k, num_hashes, bands,
        hot_shingles=hot_shingles,
    )

    def bucket_pairs(key, pdfs, state):
        if state.exists:
            ids, sets = state.get
            ids = list(ids)
            sets = [list(s) for s in sets]
        else:
            ids, sets = [], []
        arrivals: list[tuple[int, list[str]]] = []
        for pdf in pdfs:
            for did, sh in zip(pdf["id"], pdf["shingles"]):
                arrivals.append((int(did), list(sh)))
        arrivals.sort()  # deterministic intra-batch order
        out_a: list[int] = []
        out_b: list[int] = []
        out_j: list[float] = []
        for did, sh in arrivals:
            if did in ids:
                continue  # at-least-once redelivery of the same doc
            sset = set(sh)
            for pid, psh in zip(ids, sets):
                pset = set(psh)
                inter = len(sset & pset)
                union = len(sset) + len(pset) - inter
                jac = inter / union if union else 0.0
                # threshold on the HALF-UP 6dp rounding, mirroring the
                # batch verify's F.round(jaccard, 6) >= threshold
                if math.floor(jac * 1e6 + 0.5) / 1e6 >= threshold:
                    out_a.append(min(did, pid))
                    out_b.append(max(did, pid))
                    out_j.append(jac)
            if max_bucket_size is None or len(ids) < max_bucket_size:
                ids.append(did)
                sets.append(sh)
        state.update((ids, sets))
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "jaccard": out_j})

    return banded.groupBy("band_idx", "band_key").applyInPandasWithState(
        bucket_pairs,
        outputStructType="id_a long, id_b long, jaccard double",
        stateStructType="ids array<long>, shingle_sets array<array<string>>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def write_foreach_batch_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Parquet sink on Spark's own file sink: drain the currently
    available input into ``out_dir`` and return the finished query.

    Exactly-once: each micro-batch's files are committed to the
    ``_spark_metadata`` log under ``out_dir``, and a batch replayed
    after a failure (same batch id, logged in the checkpoint's
    offsets but not its commits) is skipped by the sink. Readers that
    go through the log, as ``spark.read.parquet(out_dir)`` does, see
    each batch once. pyarrow skips the underscore directory and reads
    every part file, so it would also read the files of a batch that
    failed before its commit. The name predates this sink, which no longer runs
    a ``foreachBatch`` callback; it is kept because callers, the
    benchmark's stream workload among them, use it."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def run_to_memory_sink(stream_df: DataFrame, name: str, mode: str = "append"):
    """Drive a streaming query to completion over the currently
    available input (availableNow semantics via processAllAvailable)
    and return the finished StreamingQuery; results land in the
    in-memory table ``name``. Test/debug helper."""
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def per_type_counts_stream(events: DataFrame) -> DataFrame:
    """Per-user, per-event-type running counters: one native streaming
    count keyed by (user_id, event_type). Each counter is its own
    state-store row, so a batch rewrites only the (user, type) cells
    it touched, never a whole per-user blob; with the RocksDB state
    store provider (``spark.sql.streaming.stateStore.providerClass``)
    that stays cheap however many types a user accumulates. Each
    micro-batch emits the updated (user_id, event_type, n) rows →
    outputMode("update")."""
    return events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


def pack_sequences_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    context: int = 64,
    shards: int = 8,
) -> DataFrame:
    """Streaming sequence packing — the ingest-time twin of
    ``corpus_pack_sequences``: documents append to their shard's token
    stream as they arrive and packed (doc × context-window) rows emit
    incrementally. The ENTIRE state is one running token offset per
    shard (a single long — contrast the dedup streams whose state
    grows with the corpus), because concat-and-split packing is a
    prefix-sum: everything already emitted is immutable, the offset is
    all the future needs. That O(shards) state bound is what makes
    packing a true streaming operator at any corpus size.

    Equivalence contract (tested): when each shard's documents arrive
    in ascending ``doc_id`` order across micro-batches (append-ordered
    ingest — the production log-ingest pattern), the emitted row set
    equals the batch query's exactly. Out-of-order arrival WITHIN one
    micro-batch is fine (the handler sorts intra-batch); out-of-order
    across batches changes the concatenation order, as it must —
    packing is order-defined.

    Plan: one stateless projection (token counts), then ONE
    ``applyInPandasWithState`` keyed by shard with Arrow batch
    transfer; output rows stream straight to the sink."""
    import pandas as pd  # local import: only the executor path needs it
    from pyspark.sql.streaming.state import GroupStateTimeout

    t = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % shards).cast("long").alias("shard"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_toks"),
    )

    def pack(key, pdfs, state):
        off = state.get[0] if state.exists else 0
        arrivals: list[tuple[int, int]] = []
        for pdf in pdfs:
            arrivals.extend(
                (int(d), int(n)) for d, n in zip(pdf["doc_id"], pdf["n_toks"])
            )
        arrivals.sort()  # deterministic intra-batch order
        rows = []
        for did, n in arrivals:
            end = off + n
            for b in range(off // context, (end - 1) // context + 1):
                s = max(off, b * context)
                e = min(end, (b + 1) * context)
                rows.append((key[0], b, did, s - b * context, e - s, s - off))
            off = end
        state.update((off,))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "shard", "bin_id", "doc_id", "bin_off", "n_in_bin",
                    "doc_off",
                ],
            )

    return t.groupBy("shard").applyInPandasWithState(
        pack,
        outputStructType=(
            "shard long, bin_id long, doc_id long, bin_off long, "
            "n_in_bin long, doc_off long"
        ),
        stateStructType="off long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cusum_stream(
    events: DataFrame,
    reference: float,
    slack: float = 0.0,
    threshold: float | None = None,
) -> DataFrame:
    """Streaming CUSUM (Page 1954) per event type — the online form of
    the batch ``events_cusum_drift`` detector. The batch query
    references each series' own mean (a two-pass statistic no stream
    can know); the streaming form takes a FIXED ``reference`` (the
    expected per-event value from history or SLOs) and ``slack`` k,
    the textbook parameterization: S⁺ ← max(0, S⁺ + (x − ref − k)),
    S⁻ ← max(0, S⁻ − (x − ref + k)) per arrival.

    Exact-integer state: values, reference, and slack 1e2-quantize so
    the two accumulators are BIGINT state (one pair per event type —
    O(types) state total, the same bounded-state story as
    ``pack_sequences_stream``). Emits the running S⁺/S⁻ per type per
    micro-batch plus alarm flags when ``threshold`` is set
    (outputMode update). Arrivals fold in deterministic
    (ts, event_id) order within each batch."""
    import pandas as pd  # local import: only the executor path needs it
    from pyspark.sql.streaming.state import GroupStateTimeout

    rq = int(round(reference * 100))
    kq = int(round(slack * 100))
    hq = None if threshold is None else int(round(threshold * 100))

    t = events.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("vq"),
    )

    def step(key, pdfs, state):
        sp, sn = state.get if state.exists else (0, 0)
        rows = []
        for pdf in pdfs:
            rows.extend(
                (t, int(e), int(v))
                for t, e, v in zip(pdf["ts"], pdf["event_id"], pdf["vq"])
            )
        rows.sort(key=lambda r: (r[0], r[1]))
        for _ts, _eid, vq in rows:
            sp = max(0, sp + (vq - rq - kq))
            sn = max(0, sn - (vq - rq + kq))
        state.update((sp, sn))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "cusum_pos": [sp / 100.0],
                "cusum_neg": [sn / 100.0],
                "alarm": [hq is not None and (sp > hq or sn > hq)],
            }
        )

    return t.groupBy("event_type").applyInPandasWithState(
        step,
        outputStructType=(
            "event_type string, cusum_pos double, cusum_neg double, "
            "alarm boolean"
        ),
        stateStructType="sp long, sn long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def manifest_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shards: int = 8,
) -> DataFrame:
    """Streaming export manifest — the incremental twin of
    ``data_export_manifest``: every manifest statistic folds
    incrementally (counts and token sums add; the content fingerprint
    is an XOR, commutative and associative, so arrival order across
    micro-batches cannot change it), which makes the manifest a
    perfect streaming aggregate: state per shard is five integers.
    Emits the running manifest row per shard per micro-batch
    (outputMode update); after any prefix of the stream the emitted
    rows equal the batch manifest of the documents seen so far —
    tested against the batch query on the full set."""
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % shards).cast("long").alias("shard"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_toks"),
        F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10)
        .cast("long")
        .alias("fp"),
    )
    return t.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.bit_xor("fp").alias("content_fp"),
    )


def cms_stream(
    docs: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Streaming count-min sketch — the incremental twin of the batch
    ``corpus_sketch_cms`` build: every token fans out to ``depth``
    (row, bucket) cells (the same md5 bucket function as batch), and
    each cell is ONE BIGINT counter folded per micro-batch. Counter
    addition is commutative/associative, so the final state equals
    the batch sketch regardless of arrival order or batch boundaries
    — the mergeable-sketch contract, demonstrated on a live stream.

    State is depth x width counters TOTAL (1024 longs at the default
    geometry) no matter how many tokens stream through — the sketch
    IS the bounded-state story. Emits the running (d, bucket, c)
    cells per micro-batch (outputMode update); heavy-hitter probes
    read MIN over a token's depth cells exactly as in batch."""
    ds = F.array(*[F.lit(i) for i in range(depth)])
    t = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .select("word", F.explode(ds).alias("d"))
        .select(
            "d",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("d").cast("string"),
                                F.lit(":"),
                                F.col("word"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % width
            ).alias("bucket"),
        )
    )
    return t.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("c"))


def hll_stream(
    docs: DataFrame,
    text_col: str = "text",
    registers: int = 64,
) -> DataFrame:
    """Streaming HyperLogLog — the incremental twin of the batch HLL
    builds (``corpus_sketch_merge``, ``data_sketch_time_rollup``):
    every token hashes to a 60-bit md5 value, the low ``log2(m)`` bits
    pick a register, and the register folds MAX(rho) where rho is
    1 + the trailing-zero run of the remaining bits. MAX is
    commutative/associative/idempotent, so the final register state
    equals the batch-computed registers REGARDLESS of arrival order,
    batch boundaries, or duplicate delivery — strictly stronger than
    the CMS counter contract (which needs exactly-once adds); HLL
    state survives at-least-once delivery unchanged, the property
    that matters for a restarted stream without a dedup front.

    State: ``registers`` ints TOTAL (one MAX each) no matter how many
    tokens stream through. Emits running (reg, rho_max) cells per
    micro-batch (update mode); the distinct estimate is the standard
    alpha_m * m^2 / sum(2^-rho) fold over the 64-row output."""
    h = F.conv(
        F.substring(F.md5(F.col("word")), 1, 15), 16, 10
    ).cast("long")
    rest = F.expr(f"h div {registers}")
    # rho = 1 + trailing zeros of `rest`; (x & -x) isolates the lowest
    # set bit — an exact power of two, so log2 of it is float-exact.
    rho = (
        F.when(rest == 0, F.lit(60))
        .otherwise(
            F.lit(1)
            + F.expr(
                f"CAST(log2(CAST((h div {registers}) & -(h div {registers})"
                " AS DOUBLE)) AS INT)"
            )
        )
        .cast("int")
    )
    t = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .select(h.alias("h"))
        .select(
            (F.col("h") % registers).cast("int").alias("reg"),
            rho.alias("rho"),
        )
    )
    return t.groupBy("reg").agg(F.max("rho").alias("rho_max"))


def psi_stream(
    events: DataFrame,
    boundaries: list[float],
    value_col: str = "value",
) -> DataFrame:
    """Streaming PSI drift monitor — the live twin of the batch
    ``stats_psi_drift`` query: the reference window's decile
    boundaries are FROZEN (trained in batch, passed in as bounded
    model state — the broadcast-codebook discipline), every incoming
    value buckets by comparison against those B-1 cut points, and
    each bucket keeps ONE BIGINT running counter folded per
    micro-batch. Counter addition is commutative/associative, so the
    final per-bucket state equals the batch histogram of the same
    rows regardless of arrival order or batch boundaries; the PSI
    number itself is the O(B) add-half fold over the emitted cells
    against the frozen reference shares — dashboard-side arithmetic,
    exactly as the batch query computes it.

    State: B counters TOTAL no matter how many events stream
    through. Emits running (bucket, c) per micro-batch (update
    mode)."""
    vc = F.col(value_col)
    bucket = sum(
        F.when(vc > F.lit(b), 1).otherwise(0) for b in boundaries
    )
    t = events.where(vc.isNotNull()).select(
        bucket.cast("long").alias("bucket")
    )
    return t.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))


def kmv_stream(
    docs: DataFrame,
    key_col: str = "source",
    text_col: str = "text",
    k: int = 64,
) -> DataFrame:
    """Streaming KMV (k-minimum-values / bottom-k) distinct sketch —
    the incremental twin of the batch ``agg_kmv_jaccard`` sketch
    build: per key, keep the k smallest 48-bit md5 hashes of the
    3-word shingles seen so far. "k smallest of a set" is
    commutative, associative, AND idempotent, so the final sketch
    state equals the batch-computed bottom-k REGARDLESS of arrival
    order, micro-batch boundaries, or duplicate delivery — the same
    at-least-once-safe fold class as the HLL register MAX
    (``hll_stream``), but yielding a sketch that also supports
    intersection/Jaccard estimates downstream (what HLL cannot do).

    State: at most k longs per key, no matter how many documents
    stream through. Emits the running (n_sk, kth, est_distinct) per
    key per micro-batch (update mode); est uses the standard
    (k-1)*2^48/kth_min estimator, falling back to the exact count
    while the sketch is unsaturated."""
    import pandas as pd  # local import: only the executor path needs it
    from pyspark.sql.streaming.state import GroupStateTimeout

    from spark_query_engine.operators.dedup import word_shingles

    scale = 1 << 48
    sh = word_shingles(
        docs.select(F.col(key_col).alias("kmv_key"), F.col(text_col)),
        "kmv_key",
        text_col,
        3,
    )
    t = sh.select(
        F.col("id").alias("kmv_key"),
        F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10)
        .cast("long")
        .alias("h"),
    )

    def fold(key, pdfs, state):
        mins = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            mins.update(int(x) for x in pdf["h"])
        top = sorted(mins)[:k]
        state.update((top,))
        n_sk = len(top)
        kth = top[-1] if top else 0
        est = (
            float(n_sk)
            if n_sk < k
            else round((k - 1) * float(scale) / kth, 6)
        )
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_sk": [n_sk],
                "kth": [kth],
                "est_distinct": [est],
            }
        )

    return t.groupBy("kmv_key").applyInPandasWithState(
        fold,
        outputStructType="key string, n_sk int, kth long, est_distinct double",
        stateStructType="mins array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def msprt_stream(
    events: DataFrame,
    conv_type: str = "purchase",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming ALWAYS-VALID experiment monitor — the live sibling of
    the batch ``stats_msprt_sequential`` query (same mixture-SPRT
    mathematics; the batch query scores USER-level conversion from
    two-pass first-seen/first-purchase dates, which no single-pass
    stream can know, so the streaming form monitors the EVENT-level
    conversion share per arm — the quantity a live dashboard actually
    has). Arms are the user-parity split; state per arm is exactly
    two BIGINTs (exposures n, conversions c) folded per micro-batch —
    counter addition is commutative/associative, so the final state
    equals the batch counts of the same rows regardless of arrival
    order or batch boundaries. Emits the running (arm, n, c) per
    micro-batch (update mode); the log-likelihood-ratio itself is
    dashboard-side arithmetic over the two emitted rows — see
    ``msprt_log_lambda``, which mirrors the batch query's closed
    form term for term.

    State: 4 integers TOTAL. At cluster scale the per-arm groups fold
    map-side partial counts, so the two stateful keys see
    pre-aggregated deltas, not the raw event stream."""
    t = events.select(
        (F.col(user_col) % 2).cast("long").alias("arm"),
        F.when(F.col("event_type") == conv_type, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_conv"),
    )
    return t.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_conv").alias("c")
    )


def msprt_log_lambda(
    n1: int, c1: int, n0: int, c0: int, tau2: float = 0.0001
) -> float | None:
    """The mixture-SPRT log likelihood ratio over two arm count
    pairs — the identical closed form the batch
    ``stats_msprt_sequential`` query evaluates per day:
    0.5*ln(V/(V+tau2)) + diff^2*tau2/(2V(V+tau2)) with the pooled
    binomial variance V. Returns None outside the test's support
    (no conversions yet, or all conversions). Dashboard-side
    arithmetic over the stream's two emitted rows."""
    import math

    if n1 <= 0 or n0 <= 0 or c1 + c0 <= 0 or c1 + c0 >= n1 + n0:
        return None
    p = (c1 + c0) / (n1 + n0)
    diff = c1 / n1 - c0 / n0
    vv = p * (1 - p) * (1.0 / n1 + 1.0 / n0)
    return 0.5 * math.log(vv / (vv + tau2)) + diff * diff * tau2 / (
        2 * vv * (vv + tau2)
    )

def moments_stream(
    pairs: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Streaming BIVARIATE MOMENT fold — the online engine behind
    every running linear statistic (OLS slope/intercept/R^2, Pearson
    correlation, variance): per key, exactly six BIGINT accumulators
    (n, sx, sy, sxx, syy, sxy) folded per micro-batch. Addition is
    commutative/associative, so the final state equals the batch
    moments of the same rows regardless of arrival order or batch
    boundaries — the streaming twin of the one-pass
    ``stats_ols_elasticity`` plan (its readout closed form applies
    verbatim to the emitted row; see ``ols_from_moments``).

    Inputs must already be integer-quantized (the caller applies the
    same cent/fixed-point quantization the batch query applies at the
    scan) — no float ever enters the state.

    State: 6 integers per key. Emits the running moment row per key
    per micro-batch (update mode)."""
    t = pairs.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    return t.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        # product sums accumulate exactly in decimal(38,0); under ANSI
        # mode (Spark 4's default) the bigint cast raises on overflow
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("bigint")
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("bigint")
        .alias("syy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("bigint")
        .alias("sxy"),
    )


def ols_from_moments(
    n: int, sx: int, sy: int, sxx: int, syy: int, sxy: int
) -> tuple[float, float, float] | None:
    """(slope, intercept, r2) from exact integer moments — the same
    closed form the batch ``stats_ols_elasticity`` query assembles
    on its 1-row relation. Returns None for degenerate x variance."""
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    if vx == 0 or vy == 0:
        return None
    slope = cov / vx
    intercept = sy / n - slope * (sx / n)
    return slope, intercept, (cov * cov) / (vx * vy)
