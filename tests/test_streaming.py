"""Structured Streaming tests: drive the event stream operators to
completion over the sf0.001 events parquet via a memory sink, and
check the tumbling aggregation agrees with its batch twin (Spark's
unified model makes them the same transformation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_query_engine import streaming as ST
from spark_query_engine.queries import load


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return ST.stream_from_parquet_dir(spark, f"{sf_dir}/events.parquet")


def test_stream_is_streaming(events_stream):
    assert events_stream.isStreaming
    assert dict(events_stream.dtypes)["ts"].startswith("timestamp")


def test_tumbling_stream_matches_batch(spark, sf_dir, events_stream):
    agg = ST.tumbling_counts(events_stream, "1 hour", "30 minutes")
    ST.run_to_memory_sink(agg, "tumbling_out", mode="append")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }

    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("v"),
        )
        .select(F.col("window.start").alias("ws"), "event_type", "n", "v")
    )
    want = {(r["ws"], r["event_type"]): (r["n"], r["v"]) for r in batch.collect()}

    # watermark may hold back the final (incomplete) windows in append
    # mode; every emitted window must match the batch result exactly
    assert len(got) > 0
    for key, val in got.items():
        # stream ts is TimestampType (UTC session) vs batch NTZ: compare
        # by naive wall value
        batch_key = (key[0].replace(tzinfo=None), key[1])
        assert want[batch_key] == val, key


def test_sliding_stream_matches_batch(spark, sf_dir, events_stream):
    """Sliding windows (1 hour, every 30 minutes) put each event in two
    panes; every window the stream emits must equal the batch
    aggregation over the same panes."""
    agg = ST.sliding_counts(events_stream, "1 hour", "30 minutes", "30 minutes")
    ST.run_to_memory_sink(agg, "sliding_out", mode="append")
    got = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM sliding_out").collect()
    }

    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("v"),
        )
        .select(F.col("window.start").alias("ws"), "n", "v")
    )
    want = {r["ws"]: (r["n"], r["v"]) for r in batch.collect()}

    assert len(got) > 0
    # the panes overlap: windows start on the half hour too
    assert {ws.minute for ws in got} == {0, 30}
    for ws, val in got.items():
        assert want[ws.replace(tzinfo=None)] == val, ws


def test_stateful_running_totals_matches_batch(spark, sf_dir, events_stream):
    """Per-user running totals: after draining the (single-file)
    stream, the last emission per user must equal the batch groupBy
    totals."""
    out = ST.running_user_totals(events_stream)
    ST.run_to_memory_sink(out, "running_out", mode="update")
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM running_out").collect()
    }

    batch = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("v"),
        )
    )
    want = {r["user_id"]: (r["n"], r["v"]) for r in batch.collect()}
    assert got == want


def test_session_stream_runs(spark, events_stream):
    sess = ST.sessionize_stream(events_stream, gap="30 minutes")
    ST.run_to_memory_sink(sess, "session_out", mode="append")
    rows = spark.sql("SELECT * FROM session_out").collect()
    assert len(rows) > 0
    assert all(r["session_end"] >= r["session_start"] for r in rows)
    assert all(r["n_events"] >= 1 for r in rows)


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data contract: once a window's state is evicted (watermark
    passed its end AND a batch has run), a later event for that window
    is dropped.

    Three files → three micro-batches (maxFilesPerTrigger=1).
    Batch 0 advances the watermark to 12:50 (13:00 max − 10 min);
    batch 1 finalizes + evicts the 10:00 window (emitted, count 2);
    batch 2's 10:05 event targets the evicted window → discarded.
    (The watermark is a lower-bound guarantee: an event later than the
    watermark may still be accepted until eviction actually runs —
    which is why the late file must arrive after the spacer batch.)
    """
    import pandas as pd

    d = tmp_path / "stream"
    d.mkdir()

    def write(fname, rows):
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [pd.Timestamp(r[1]).value for r in rows],  # ns long
                "user_id": [1] * len(rows),
                "event_type": ["click"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(d / fname)

    # batch 0: window 10:00 gets 2 events; max event time 13:00
    write("a.parquet", [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:01:00"),
                        (3, "2024-01-01 13:00:00")])
    # batch 1: spacer — triggers eviction of the 10:00 window
    write("b.parquet", [(9, "2024-01-01 13:05:00")])
    # batch 2: late event for the already-evicted 10:00 window
    write("c.parquet", [(4, "2024-01-01 10:05:00"), (5, "2024-01-01 13:10:00")])

    stream = ST.stream_from_parquet_dir(spark, str(d))
    agg = ST.tumbling_counts(stream, window="1 hour", watermark="10 minutes")
    ST.run_to_memory_sink(agg, "late_out", mode="append")
    got = {
        r["window_start"].strftime("%H:%M"): r["n_events"]
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # the 10:00 window closed at count 2 — the late event never landed
    assert got.get("10:00") == 2


def test_dedup_stream_drops_redelivered_events(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the same event_id redelivered in
    a later micro-batch (within the watermark horizon) is emitted only
    once — the at-least-once → effectively-once ingestion contract."""
    import pandas as pd

    d = tmp_path / "dupstream"
    d.mkdir()

    def write(fname, rows):
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [pd.Timestamp(r[1]).value for r in rows],
                "user_id": [1] * len(rows),
                "event_type": ["click"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(d / fname)

    write("a.parquet", [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:01:00")])
    # batch 1 redelivers id 1 and 2 (same + slightly different ts) + a new id
    write("b.parquet", [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:02:00"),
                        (3, "2024-01-01 10:03:00")])

    stream = ST.stream_from_parquet_dir(spark, str(d))
    deduped = ST.dedup_stream(stream, keys=("event_id",), watermark="1 hour")
    ST.run_to_memory_sink(
        deduped.select("event_id"), "dedup_out", mode="append"
    )
    ids = [r["event_id"] for r in spark.sql("SELECT * FROM dedup_out").collect()]
    assert sorted(ids) == [1, 2, 3]


def test_minhash_dedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming MinHash-band near-dup dedup ≡ batch: drive the
    sf0.001 documents through `minhash_dedup_stream` in THREE
    micro-batches (cross-batch state is the point — pairs whose
    members arrive in different batches must still emit) and assert
    the distinct emitted pair set equals `minhash_near_duplicates` on
    the same documents, with per-pair Jaccard agreeing to 1e-9."""
    from spark_query_engine.operators.dedup import minhash_near_duplicates
    from pyspark.sql import types as T

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = tmp_path / "docstream"
    d.mkdir()
    # three files = three micro-batches (maxFilesPerTrigger=1), split
    # round-robin so near-dup partners usually land in DIFFERENT batches
    pdf = docs.toPandas()
    for i in range(3):
        pdf[pdf["doc_id"] % 3 == i].to_parquet(d / f"part{i}.parquet")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    pairs = ST.minhash_dedup_stream(
        stream, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        threshold=0.6,
    )
    ST.run_to_memory_sink(pairs, "minhash_dedup_out", mode="append")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in spark.sql(
            "SELECT DISTINCT id_a, id_b, jaccard FROM minhash_dedup_out"
        ).collect()
    }

    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates(
            docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
            threshold=0.6,
        ).collect()
    }
    assert set(got) == set(want)
    assert len(want) > 0
    for k in want:
        # batch emits the 6dp-rounded jaccard, stream the raw ratio
        assert abs(got[k] - want[k]) <= 5.001e-7, k


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path, events_stream):
    """The parquet sink is exactly-once: replaying the last micro-batch
    (its offsets are logged, its commit marker is deleted) writes no
    second copy of its rows, and every input row lands once."""
    out = tmp_path / "sink_out"
    ckpt = tmp_path / "sink_ckpt"
    stream = events_stream.select("event_id")
    ST.write_foreach_batch_parquet(stream, str(out), str(ckpt))
    files = sorted(out.glob("*.parquet"))
    last = max(
        (p for p in (ckpt / "commits").iterdir() if p.name.isdigit()),
        key=lambda p: int(p.name),
    )
    last.unlink()
    (last.parent / f".{last.name}.crc").unlink(missing_ok=True)
    ST.write_foreach_batch_parquet(stream, str(out), str(ckpt))
    assert last.exists()  # the second drain re-ran and committed the batch
    assert sorted(out.glob("*.parquet")) == files
    written = spark.read.parquet(str(out))
    assert written.count() == load(spark, sf_dir, "events").count()
    assert written.select("event_id").distinct().count() == written.count()


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_stream):
    """Stream-stream interval join (click within 1h of a view, same
    user) must equal the identical batch join over the same data."""
    views = events_stream.where(F.col("event_type") == "view")
    clicks = events_stream.where(F.col("event_type") == "click")
    joined = ST.interval_join_streams(views, clicks, within="1 hour")
    ST.run_to_memory_sink(
        joined.select("l_event_id", "r_event_id"), "ssj_out", mode="append"
    )
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }

    ev = load(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("k"), F.col("ts").alias("vts"),
        F.col("event_id").alias("vid"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("k2"), F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
    )
    want = {
        (r["vid"], r["cid"])
        for r in v.join(
            c,
            (F.col("k") == F.col("k2"))
            & (F.col("cts") >= F.col("vts"))
            & (F.col("cts") <= F.col("vts") + F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert len(want) > 0
    # append mode may withhold pairs still inside the watermark at end
    # of input; every emitted pair must be a true batch pair, and the
    # stream must find the overwhelming majority
    assert got <= want
    assert len(got) >= 0.9 * len(want)


def test_rate_source_generator_is_deterministic(spark):
    """The rate-micro-batch event generator: batch b carries event_ids
    [100b, 100(b+1)) stamped start + b minutes, with every field an
    arithmetic function of event_id — so the streaming workload is
    exactly reproducible (no wall clock in the data path)."""
    import datetime
    import time

    gen = ST.stream_from_rate(spark, rows_per_batch=100)
    assert gen.isStreaming
    # the generator feeds the same downstream operators as the parquet
    # and (in production) kafka sources — e.g. a watermarked tumbling agg
    assert "window_start" in ST.tumbling_counts(gen, "1 minute").columns

    q = (
        gen.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_out")
        .start()
    )
    deadline = time.time() + 90
    while time.time() < deadline:
        if spark.sql("SELECT count(*) AS c FROM rate_out").head()["c"] >= 200:
            break
        time.sleep(0.5)
    q.stop()

    rows = spark.sql("SELECT * FROM rate_out WHERE event_id < 200").collect()
    assert len(rows) == 200
    for r in rows:
        i = r["event_id"]
        assert r["user_id"] == i % 50
        assert r["event_type"] == f"type_{i % 4}"
        assert r["value"] == float(i % 97)
    ts = {r["event_id"]: r["ts"] for r in rows}
    assert ts[0] == datetime.datetime(2024, 1, 1, 0, 0, 0)
    assert ts[150] == datetime.datetime(2024, 1, 1, 0, 1, 0)


def test_ohlc_stream_matches_batch(spark, sf_dir, events_stream):
    """The streaming OHLC candles (min_by/max_by incremental fold)
    must equal the batch rank-window twin for every emitted window —
    two different algorithms (stateful aggregation vs sort+rank) for
    the same semantics, which is exactly what Spark's unified model
    promises."""
    from spark_query_engine.queries import queries

    agg = ST.ohlc_stream(events_stream, "1 day", "1 hour")
    ST.run_to_memory_sink(agg, "ohlc_out", mode="append")
    got = {
        (r["bucket"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"]
        )
        for r in spark.sql("SELECT * FROM ohlc_out").collect()
    }

    batch = queries()["events_downsample_ohlc"](spark, sf_dir)
    want = {
        (r["bucket"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"]
        )
        for r in batch.collect()
    }
    assert len(got) > 0
    for key, val in got.items():
        batch_key = (key[0].replace(tzinfo=None), key[1])
        assert want[batch_key] == val, key


def test_python_datasource_stream_reader(spark, tmp_path):
    """The custom connector's streaming half: micro-batches advance a
    doc_id offset, content is the same pure function of (seed, id) as
    the batch reader — so the unified model holds for a USER-DEFINED
    source too: stream rows == batch rows over the covered range."""
    from spark_query_engine.pysource import SynthDocsDataSource, _doc

    spark.dataSource.register(SynthDocsDataSource)
    stream = (
        spark.readStream.format("synth_docs")
        .option("seed", 7)
        .option("batchSize", 50)
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT COUNT(*) c FROM synth_stream_out").head()["c"]
            if n >= 100:
                break
            time.sleep(1)
        assert n >= 100, n
        rows = {
            r["doc_id"]: r["text"]
            for r in spark.sql(
                "SELECT * FROM synth_stream_out WHERE doc_id < 100"
            ).collect()
        }
        assert len(rows) == 100
        for i in (0, 57, 99):
            assert rows[i] == _doc(7, i)[1]
    finally:
        q.stop()


def test_stream_static_dimension_join(spark, sf_dir, events_stream):
    """Stream-STATIC join — the enrich-events-with-a-dimension shape
    (the most common production join): the static side broadcasts
    into every micro-batch with no state store involvement (unlike
    stream-stream joins), so results must equal the batch join
    exactly for all emitted rows."""
    from spark_query_engine.queries import load

    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0),
         ("signup", 5.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    enriched = (
        events_stream.join(F.broadcast(dim), "event_type")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("wv"),
        )
        .select(
            F.col("window.start").alias("ws"), "event_type", "n", "wv"
        )
    )
    ST.run_to_memory_sink(enriched, "stream_static_out", mode="append")
    got = {
        (r["ws"], r["event_type"]): (r["n"], r["wv"])
        for r in spark.sql("SELECT * FROM stream_static_out").collect()
    }

    batch = (
        load(spark, sf_dir, "events")
        .join(F.broadcast(dim), "event_type")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("wv"),
        )
        .select(F.col("window.start").alias("ws"), "event_type", "n", "wv")
    )
    want = {(r["ws"], r["event_type"]): (r["n"], r["wv"]) for r in batch.collect()}
    assert len(got) > 0
    for key, val in got.items():
        assert want[(key[0].replace(tzinfo=None), key[1])] == val, key


def test_chunk_stream_matches_batch(spark, tmp_path):
    """Training-set assembly in streaming: the sliding-window chunker
    is a stateless narrow transform, so the SAME operator applies to a
    streaming source unchanged (no watermark, no state store) and must
    emit exactly the rows the batch run emits over the covered docs —
    the unified-model contract for the chunking stage of a continuous
    ingestion pipeline."""
    import time

    from spark_query_engine.operators.textanalysis import chunk_sliding
    from spark_query_engine.pysource import SynthDocsDataSource, _doc

    spark.dataSource.register(SynthDocsDataSource)
    stream = (
        spark.readStream.format("synth_docs")
        .option("seed", 11)
        .option("batchSize", 40)
        .load()
    )
    chunked = chunk_sliding(stream, "doc_id", "text", size=16, stride=12)
    assert chunked.isStreaming
    q = (
        chunked.writeStream.format("memory")
        .queryName("chunk_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql(
                "SELECT COUNT(DISTINCT id) c FROM chunk_stream_out"
            ).head()["c"]
            if n >= 80:
                break
            time.sleep(1)
        assert n >= 80, n
        got = {
            (r["id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_fp"])
            for r in spark.sql(
                "SELECT * FROM chunk_stream_out WHERE id < 80"
            ).collect()
        }
        # batch twin over the same synthetic docs
        batch = spark.createDataFrame(
            [(i, _doc(11, i)[1]) for i in range(80)],
            "doc_id long, text string",
        )
        want = {
            (r["id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_fp"])
            for r in chunk_sliding(
                batch, "doc_id", "text", size=16, stride=12
            ).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_transform_with_state_counts_match_batch(spark, sf_dir, events_stream):
    """Per-(user, type) running counters on the RocksDB state store
    provider: after draining the stream, the last emission per (user,
    type) equals the batch groupBy counts."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = ST.per_type_counts_stream(events_stream)
        ST.run_to_memory_sink(out, "tws_out", mode="update")
        got = {
            (r["user_id"], r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM tws_out").collect()
        }
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    batch = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .count()
    )
    want = {(r["user_id"], r["event_type"]): r["count"] for r in batch.collect()}
    assert got == want


def test_stream_stream_left_outer_join_emits_unmatched(spark, sf_dir, events_stream):
    """left_outer stream-stream interval join: matched pairs must be a
    subset of the batch join's pairs, and views with NO click in their
    1-hour window must eventually emit with NULL right columns once
    the watermark proves no partner can arrive. Views whose window end
    sits at least (watermark + interval) before the stream's max
    event time are PROVABLY decidable by end of input — every one of
    those must have emitted."""
    views = events_stream.where(F.col("event_type") == "view")
    clicks = events_stream.where(F.col("event_type") == "click")
    joined = ST.interval_join_streams(
        views, clicks, within="1 hour", how="left_outer"
    )
    ST.run_to_memory_sink(
        joined.select("l_event_id", "l_ts", "r_event_id"),
        "ssj_outer_out",
        mode="append",
    )
    rows = spark.sql("SELECT * FROM ssj_outer_out").collect()
    got_matched = {
        (r["l_event_id"], r["r_event_id"])
        for r in rows
        if r["r_event_id"] is not None
    }
    got_unmatched = {r["l_event_id"] for r in rows if r["r_event_id"] is None}

    ev = load(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("k"), F.col("ts").alias("vts"),
        F.col("event_id").alias("vid"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("k2"), F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
    )
    pairs = v.join(
        c,
        (F.col("k") == F.col("k2"))
        & (F.col("cts") >= F.col("vts"))
        & (F.col("cts") <= F.col("vts") + F.expr("INTERVAL 1 hour")),
    )
    want_pairs = {(r["vid"], r["cid"]) for r in pairs.collect()}
    matched_vids = {a for a, _b in want_pairs}
    all_v = {(r["vid"], r["vts"]) for r in v.collect()}
    want_unmatched = {vid for vid, _ts in all_v} - matched_vids

    assert got_matched <= want_pairs
    assert got_unmatched <= want_unmatched  # no false "no match" claims
    # decidability horizon: watermark 30 min + interval 1 h behind max ts
    import datetime

    max_ts = max(ts for _vid, ts in all_v)
    horizon = max_ts - datetime.timedelta(hours=1, minutes=30)
    provable = {
        vid
        for vid, ts in all_v
        if vid in want_unmatched and ts < horizon - datetime.timedelta(hours=1)
    }
    assert provable <= got_unmatched
    assert len(got_unmatched) > 0


def test_session_window_operator_matches_lag_cumsum_algorithm(spark, sf_dir):
    """Two entirely different sessionization algorithms must agree:
    Spark's native session_window operator (batch mode — gap-merged
    intervals) vs the lag→flag→cumsum formulation the oracle-verified
    events_sessionize query uses. Same 30-minute gap, same totals."""
    from spark_query_engine.queries import queries

    ev = load(spark, sf_dir, "events")
    native = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
        for r in native.collect()
    }
    lagged = queries()["events_sessionize"](spark, sf_dir)
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
        for r in lagged.collect()
    }
    assert got == want


def test_minhash_stream_hot_shingle_guard_matches_batch(spark, sf_dir, tmp_path):
    """The streaming hot-shingle guard (static exclusion list) must
    equal the batch pipeline run on documents with the same shingles
    stripped: compute the df>threshold hot list batch-side, pass it to
    `minhash_dedup_stream`, and compare pair sets against
    `minhash_near_duplicates(..., max_shingle_df=...)` with the SAME
    cutoff — the two guards are different mechanics (literal exclusion
    vs left-anti on a df count) over the same shingle set."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from spark_query_engine.operators.dedup import (
        minhash_near_duplicates,
        word_shingles,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    max_df = 5
    hot = (
        word_shingles(docs, "doc_id", "text", 3)
        .groupBy("shingle")
        .agg(F.countDistinct("id").alias("df"))
        .where(F.col("df") > max_df)
        .select("shingle")
    )

    d = tmp_path / "docstream_hot"
    d.mkdir()
    pdf = docs.toPandas()
    for i in range(2):
        pdf[pdf["doc_id"] % 2 == i].to_parquet(d / f"part{i}.parquet")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    pairs = ST.minhash_dedup_stream(
        stream, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
        threshold=0.6, hot_shingles=hot,
    )
    ST.run_to_memory_sink(pairs, "minhash_hot_out", mode="append")
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.sql(
            "SELECT DISTINCT id_a, id_b FROM minhash_hot_out"
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            docs, "doc_id", "text", shingle_k=3, num_hashes=16, bands=4,
            threshold=0.6, max_shingle_df=max_df,
        ).collect()
    }
    assert got == want
    assert hot.count() > 0  # the guard actually excluded something


def test_minhash_stream_bucket_cap_bounds_state(spark, sf_dir, tmp_path):
    """max_bucket_size stops bucket growth: with cap=1 every bucket
    holds a single occupant, so the only emitted pairs are arrivals
    verifying against that first occupant — a subset of the uncapped
    run — and pairs in which BOTH members arrived after the cap are
    gone. The cap must never ADD pairs."""
    from pyspark.sql import types as T

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = tmp_path / "docstream_cap"
    d.mkdir()
    docs.toPandas().to_parquet(d / "part0.parquet")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def run(sink, cap):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        pairs = ST.minhash_dedup_stream(
            stream, "doc_id", "text", shingle_k=3, num_hashes=16,
            bands=4, threshold=0.6, max_bucket_size=cap,
        )
        ST.run_to_memory_sink(pairs, sink, mode="append")
        return {
            (r["id_a"], r["id_b"])
            for r in spark.sql(
                f"SELECT DISTINCT id_a, id_b FROM {sink}"
            ).collect()
        }

    capped = run("minhash_cap1_out", 1)
    uncapped = run("minhash_uncapped_out", None)
    assert capped <= uncapped
    assert len(uncapped) > 0


def test_pack_sequences_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming packing ≡ batch under append-ordered ingest: drive
    the documents in three doc_id-RANGE micro-batches (each shard sees
    ascending ids across batches — the log-ingest pattern the operator
    contracts on) and assert the emitted (shard, bin, doc, offsets)
    row set equals corpus_pack_sequences exactly. Also pin the state
    bound: the handler's state is ONE long per shard."""
    from pyspark.sql import types as T

    from spark_query_engine.queries import queries

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = tmp_path / "packstream"
    d.mkdir()
    pdf = docs.toPandas().sort_values("doc_id")
    n = len(pdf)
    for i in range(3):
        pdf.iloc[i * n // 3:(i + 1) * n // 3].to_parquet(
            d / f"part{i}.parquet"
        )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    packed = ST.pack_sequences_stream(stream, "doc_id", "text")
    ST.run_to_memory_sink(packed, "pack_stream_out", mode="append")
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT shard, bin_id, doc_id, bin_off, n_in_bin, doc_off "
            "FROM pack_stream_out"
        ).collect()
    }
    want = {
        tuple(r)
        for r in queries()["corpus_pack_sequences"](spark, sf_dir).collect()
    }
    assert got == want
    assert len(want) > 0


def test_cusum_stream_matches_sequential_recursion(spark, sf_dir, tmp_path):
    """Streaming CUSUM ≡ the textbook recursion: drive the events in
    two time-ordered micro-batches and check each type's final S⁺/S⁻
    against a sequential max(0, ·) fold over the full (ts, event_id)-
    ordered series in the same exact-integer arithmetic."""
    from pyspark.sql import types as T

    ref, slack = 50.0, 5.0
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"),
        "event_type",
        "value",
    )
    pdf = ev.toPandas().sort_values(["ts", "event_id"])
    d = tmp_path / "cusumstream"
    d.mkdir()
    n = len(pdf)
    pdf.iloc[: n // 2].to_parquet(d / "part0.parquet")
    pdf.iloc[n // 2:].to_parquet(d / "part1.parquet")

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = ST.cusum_stream(stream, reference=ref, slack=slack, threshold=100.0)
    ST.run_to_memory_sink(out, "cusum_out", mode="update")
    got = {
        r["event_type"]: (r["cusum_pos"], r["cusum_neg"], r["alarm"])
        for r in spark.sql(
            "SELECT * FROM cusum_out"
        ).collect()
    }

    rq, kq, hq = int(ref * 100), int(slack * 100), int(100.0 * 100)
    want = {}
    for r in pdf.itertuples():
        vq = int(round(float(r.value) * 100))
        sp, sn = want.get(r.event_type, (0, 0))
        sp = max(0, sp + (vq - rq - kq))
        sn = max(0, sn - (vq - rq + kq))
        want[r.event_type] = (sp, sn)
    want = {
        t: (sp / 100.0, sn / 100.0, sp > hq or sn > hq)
        for t, (sp, sn) in want.items()
    }
    assert got == want
    assert len(want) > 0


def test_manifest_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming manifest ≡ batch: drive the documents in three
    arbitrary (round-robin, NOT ordered) micro-batches — the XOR
    fingerprint and the additive stats must be arrival-order-immune —
    and compare the final per-shard rows to data_export_manifest."""
    from pyspark.sql import types as T

    from spark_query_engine.queries import queries

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = tmp_path / "manifeststream"
    d.mkdir()
    pdf = docs.toPandas()
    for i in range(3):
        pdf[pdf["doc_id"] % 3 == i].to_parquet(d / f"part{i}.parquet")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = ST.manifest_stream(stream, "doc_id", "text")
    ST.run_to_memory_sink(out, "manifest_out", mode="update")
    got = {
        r["shard"]: (
            r["n_docs"], r["n_tokens"], r["min_id"], r["max_id"],
            r["content_fp"],
        )
        for r in spark.sql("SELECT * FROM manifest_out").collect()
    }
    want = {
        r["shard"]: (
            r["n_docs"], r["n_tokens"], r["min_id"], r["max_id"],
            r["content_fp"],
        )
        for r in queries()["data_export_manifest"](spark, sf_dir).collect()
    }
    assert got == want
    assert len(want) > 0


def test_cms_stream_matches_batch_sketch(spark, sf_dir, tmp_path):
    """Streaming CMS ≡ batch sketch: drive the documents in three
    round-robin (NOT ordered) micro-batches — cell counters are
    commutative adds, so the final (d, bucket, c) state must equal
    the batch sketch built in one shot with the same md5 bucket
    function."""
    from pyspark.sql import types as T

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = tmp_path / "cmsstream"
    d.mkdir()
    pdf = docs.toPandas()
    for i in range(3):
        pdf[pdf["doc_id"] % 3 == i].to_parquet(d / f"part{i}.parquet")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = ST.cms_stream(stream, "text", depth=4, width=64)
    ST.run_to_memory_sink(out, "cms_out", mode="update")
    got = {
        (r["d"], r["bucket"]): r["c"]
        for r in spark.sql("SELECT * FROM cms_out").collect()
    }
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    ds = spark.range(4).select(F.col("id").cast("int").alias("d"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("d").cast("string"), F.lit(":"), F.col("word")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 64
    )
    want = {
        (r["d"], r["bucket"]): r["c"]
        for r in words.crossJoin(F.broadcast(ds))
        .groupBy("d", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want
    assert len(want) > 4  # the sketch has real occupancy


def test_hll_stream_matches_batch_registers(spark, sf_dir, tmp_path):
    """Streaming HLL ≡ batch registers: drive the documents in three
    round-robin micro-batches AND redeliver the first batch (at-least-
    once delivery) — register folds are MAX, idempotent under
    duplicates, so the final (reg, rho_max) state must equal the
    batch computation over the deduplicated corpus."""
    from pyspark.sql import types as T

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = tmp_path / "hllstream"
    d.mkdir()
    pdf = docs.toPandas()
    for i in range(3):
        pdf[pdf["doc_id"] % 3 == i].to_parquet(d / f"part{i}.parquet")
    # at-least-once: batch 0 delivered twice under a new file name
    pdf[pdf["doc_id"] % 3 == 0].to_parquet(d / "part0_redelivery.parquet")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = ST.hll_stream(stream, "text", registers=64)
    ST.run_to_memory_sink(out, "hll_out", mode="update")
    got = {
        r["reg"]: r["rho_max"]
        for r in spark.sql("SELECT * FROM hll_out").collect()
    }
    h = F.conv(F.substring(F.md5(F.col("word")), 1, 15), 16, 10).cast(
        "long"
    )
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .select(h.alias("h"))
    )
    rho = (
        F.when(F.expr("h div 64") == 0, F.lit(60))
        .otherwise(
            F.lit(1)
            + F.expr(
                "CAST(log2(CAST((h div 64) & -(h div 64) AS DOUBLE)) AS INT)"
            )
        )
        .cast("int")
    )
    want = {
        r["reg"]: r["rho_max"]
        for r in words.select(
            (F.col("h") % 64).cast("int").alias("reg"), rho.alias("rho")
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("rho_max"))
        .collect()
    }
    assert got == want
    assert len(want) > 16  # real register occupancy


def test_psi_stream_matches_batch_histogram(spark, sf_dir, tmp_path):
    """Streaming PSI ≡ batch: freeze decile boundaries from the
    event-value distribution (batch model state), drive the same
    events in three round-robin micro-batches, and the final
    per-bucket counters must equal the batch histogram under the
    identical comparison-chain bucket function — counter adds are
    commutative, so batch boundaries can't matter."""
    from pyspark.sql import types as T

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # frozen cut points: 9 approx deciles of the same window (the
    # batch query uses exact rank selection; any frozen list works
    # for the stream ≡ batch contract)
    bounds = sorted(
        ev.approxQuantile("value", [i / 10 for i in range(1, 10)], 0.0)
    )
    d = tmp_path / "psistream"
    d.mkdir()
    pdf = ev.select("event_id", "value").toPandas()
    for i in range(3):
        pdf[pdf["event_id"] % 3 == i].to_parquet(d / f"part{i}.parquet")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = ST.psi_stream(stream, bounds)
    ST.run_to_memory_sink(out, "psi_out", mode="update")
    got = {
        r["bucket"]: r["c"]
        for r in spark.sql("SELECT * FROM psi_out").collect()
    }
    bucket = sum(
        F.when(F.col("value") > F.lit(b), 1).otherwise(0) for b in bounds
    )
    want = {
        r["bucket"]: r["c"]
        for r in ev.groupBy(bucket.cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want
    assert len(want) >= 5  # real occupancy across the decile grid


def test_kmv_stream_matches_batch_bottom_k(spark, sf_dir, tmp_path):
    """Streaming KMV ≡ batch: drive the documents in three
    doc_id-modulo micro-batches (scrambled relative to any source
    order) and assert the FINAL per-source (n_sk, kth, est_distinct)
    equals the batch bottom-k over the same md5 shingle hashes —
    "k smallest of a set" is order-independent and idempotent, so
    arrival order and batch boundaries must not leak into the state."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from spark_query_engine.operators.dedup import word_shingles

    k = 64
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    d = tmp_path / "kmvstream"
    d.mkdir()
    pdf = docs.toPandas()
    for i in range(3):
        pdf[pdf["doc_id"] % 3 == i].to_parquet(d / f"part{i}.parquet")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = ST.kmv_stream(stream, key_col="source", k=k)
    ST.run_to_memory_sink(out, "kmv_out", mode="update")
    got = {
        r["key"]: (r["n_sk"], r["kth"], r["est_distinct"])
        for r in spark.sql("SELECT * FROM kmv_out").collect()
    }

    sh = word_shingles(docs.select("source", "text"), "source", "text", 3)
    els = sh.select(
        F.col("id").alias("source"),
        F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    w = Window.partitionBy("source").orderBy("h")
    sk = els.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )
    want = {}
    for r in (
        sk.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("kth"))
        .collect()
    ):
        n_sk, kth = r["n_sk"], r["kth"]
        est = (
            float(n_sk)
            if n_sk < k
            else round((k - 1) * float(1 << 48) / kth, 6)
        )
        want[r["source"]] = (n_sk, kth, est)
    assert got == want
    assert len(want) > 1


def test_msprt_stream_matches_batch_counts(spark, sf_dir, tmp_path):
    """Streaming mSPRT monitor ≡ batch: drive the events in three
    event_id-modulo micro-batches and the final per-arm (n, c) state
    must equal the batch groupBy counts of the same rows (counter
    adds are commutative); the dashboard-side log-lambda over those
    counts is finite and, on this A/A parity split, far below the
    ln(20) rejection boundary."""
    from pyspark.sql import types as T

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    d = tmp_path / "msprtstream"
    d.mkdir()
    pdf = ev.toPandas()
    for i in range(3):
        pdf[pdf["event_id"] % 3 == i].to_parquet(d / f"part{i}.parquet")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = ST.msprt_stream(stream)
    ST.run_to_memory_sink(out, "msprt_out", mode="update")
    got = {
        r["arm"]: (r["n"], r["c"])
        for r in spark.sql("SELECT * FROM msprt_out").collect()
    }
    want = {
        r["arm"]: (r["n"], r["c"])
        for r in ev.groupBy((F.col("user_id") % 2).alias("arm"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("c"),
        )
        .collect()
    }
    assert got == want
    ll = ST.msprt_log_lambda(
        got[1][0], got[1][1], got[0][0], got[0][1]
    )
    assert ll is not None
    assert ll < 2.995732  # A/A: the always-valid test must not reject


def test_moments_stream_matches_batch_ols(spark, sf_dir, tmp_path):
    """Streaming moment fold ≡ batch: drive lineitem's (discount-cent,
    quantity) pairs in three micro-batches keyed by a constant; the
    final six-integer state must equal the batch moments, and the
    ols_from_moments readout must equal the batch
    stats_ols_elasticity row (same closed form, same integers)."""
    from pyspark.sql import types as T
    from spark_query_engine.queries.training import stats_ols_elasticity

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.lit("all").alias("k"),
        F.floor(F.col("l_discount") * 100 + 0.5)
        .cast("long")
        .alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    d = tmp_path / "momstream"
    d.mkdir()
    pdf = li.toPandas()
    for i in range(3):
        pdf[pdf["l_orderkey"] % 3 == i].to_parquet(d / f"part{i}.parquet")
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("k", T.StringType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = ST.moments_stream(stream, "k", "x", "y")
    ST.run_to_memory_sink(out, "mom_out", mode="update")
    # update-mode memory sink appends one row per trigger; the final
    # state is the row with the largest n
    got = spark.sql(
        "SELECT * FROM mom_out ORDER BY n DESC LIMIT 1"
    ).collect()[0]
    want = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).collect()[0]
    for c in ("n", "sx", "sy", "sxx", "syy", "sxy"):
        assert got[c] == want[c], c
    slope, intercept, r2 = ST.ols_from_moments(
        got["n"], got["sx"], got["sy"], got["sxx"], got["syy"],
        got["sxy"],
    )
    batch = stats_ols_elasticity(spark, sf_dir).collect()[0]
    import math
    assert batch["n"] == got["n"]
    assert abs(batch["slope"] - math.floor(1e6 * slope * 100.0 + 0.5) / 1e6) < 1e-9
    assert abs(batch["r2"] - math.floor(1e6 * r2 + 0.5) / 1e6) < 1e-9


def test_monoid_streams_plan_native_aggregation(spark):
    """The eight per-key monoid folds (counts, sums, min/max, XOR,
    register MAX) plan as Spark's native streaming aggregation, with
    no Python state operator, and keep their output columns and
    types."""
    ev = ST.stream_from_rate(spark)
    docs = ev.select(
        F.col("event_id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    pairs = ev.select(
        F.col("event_type").alias("k"),
        F.col("user_id").alias("x"),
        F.col("event_id").alias("y"),
    )
    ops = {
        "running_user_totals": (
            ST.running_user_totals(ev),
            "user_id bigint, n_events bigint, total_value double",
        ),
        "per_type_counts_stream": (
            ST.per_type_counts_stream(ev),
            "user_id bigint, event_type string, n bigint",
        ),
        "manifest_stream": (
            ST.manifest_stream(docs),
            "shard bigint, n_docs bigint, n_tokens bigint, min_id bigint, "
            "max_id bigint, content_fp bigint",
        ),
        "cms_stream": (
            ST.cms_stream(docs), "d int, bucket bigint, c bigint"
        ),
        "hll_stream": (ST.hll_stream(docs), "reg int, rho_max int"),
        "psi_stream": (
            ST.psi_stream(ev, [10.0, 50.0]), "bucket bigint, c bigint"
        ),
        "msprt_stream": (
            ST.msprt_stream(ev), "arm bigint, n bigint, c bigint"
        ),
        "moments_stream": (
            ST.moments_stream(pairs, "k", "x", "y"),
            "k string, n bigint, sx bigint, sy bigint, sxx bigint, "
            "syy bigint, sxy bigint",
        ),
    }
    for name, (df, ddl) in ops.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "Aggregate" in plan, name
        for node in (
            "FlatMapGroupsInPandasWithState",
            "TransformWithStateInPandas",
        ):
            assert node not in plan, (name, node)
        got = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema
        )
        assert got == ddl, name
