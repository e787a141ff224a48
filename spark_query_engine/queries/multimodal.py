"""Multimodal-column query: binary payload + metadata extraction.

The Spark side runs the REAL plumbing — synthetic binary payload
column, then an Arrow-batched ``mapInPandas`` header decode
(spark_query_engine.operators.multimodal). The oracle reproduces the
metadata arithmetic directly in SQL, proving the Python batch path
computes exactly what the declarative definition says.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spark_query_engine.operators import multimodal as MM
from spark_query_engine.queries import footer_rows, load, query


@query(
    "multimodal_metadata",
    oracle="""
        SELECT doc_id AS id,
               CAST(octet_length(encode(
                   'QEIM'
                   || lpad(CAST(length(text) % 640 AS VARCHAR), 4, '0')
                   || lpad(CAST(length(text) % 480 AS VARCHAR), 4, '0')
                   || text)) AS BIGINT) AS byte_len,
               TRUE AS magic_ok,
               CAST(length(text) % 640 AS INT) AS width,
               CAST(length(text) % 480 AS INT) AS height
        FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary payload → mapInPandas header decode → typed metadata."""
    docs = load(spark, sf_dir, "documents")
    return MM.decode_metadata(MM.attach_payload(docs, "doc_id", "text"))


@query(
    "corpus_multimodal_features",
    oracle="""
        WITH buckets AS (
            SELECT doc_id, unnest(range(0, 8)) AS bucket FROM documents
        ),
        chars AS (
            SELECT doc_id, ord(substr(text, i, 1)) % 8 AS bucket
            FROM (SELECT doc_id, text,
                         unnest(range(1, length(text) + 1)) AS i
                  FROM documents)
        ),
        h AS (SELECT doc_id, bucket, COUNT(*) AS c FROM chars GROUP BY 1, 2),
        j AS (SELECT b.doc_id, b.bucket, COALESCE(h.c, 0) AS c
              FROM buckets b LEFT JOIN h
                ON b.doc_id = h.doc_id AND b.bucket = h.bucket),
        t AS (SELECT doc_id, SUM(c) AS s FROM j GROUP BY doc_id)
        SELECT j.doc_id AS id,
               CAST(j.bucket AS INT) AS bucket,
               ROUND(j.c * 1.0 / t.s, 6) AS share
        FROM j JOIN t ON j.doc_id = t.doc_id
    """,
)
def corpus_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction through the ARROW-NATIVE Python boundary
    (``mapInArrow`` — no pandas materialization of the binary column):
    per-payload byte histogram, L1-normalized, 6dp-rounded. Output is
    LONG FORM — one (id, bucket, share) row per histogram cell, 8 rows
    per document — because the driver's pandas canonicalizer cannot
    hash array-typed cells (the r2 red row). The oracle recomputes the
    histogram character-by-character in SQL (payload bodies are ASCII),
    so the value hash proves the Arrow batch path computes exactly its
    declarative definition."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    feats = MM.extract_features_arrow(
        MM.attach_payload(docs, "doc_id", "text"), dim=8
    )
    return feats.select(
        "id", F.posexplode("features").alias("bucket", "share")
    ).select(
        "id",
        F.col("bucket").cast("int").alias("bucket"),
        F.round("share", 6).alias("share"),
    )


@query(
    "corpus_multimodal_resize",
    oracle="""
        SELECT doc_id AS id,
               md5('QEIM' || '0320' || '0240' || text) AS payload_md5,
               CAST(12 + length(text) AS BIGINT) AS byte_len
        FROM documents
    """,
)
def corpus_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize through the mapInPandas codec path: header rewritten to
    320×240, body preserved byte-for-byte — verified by hashing the
    whole output payload (md5 over VARCHAR in DuckDB == md5 over the
    utf-8 payload bytes, since bodies are ASCII)."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    resized = MM.resize(MM.attach_payload(docs, "doc_id", "text"), 320, 240)
    return resized.select(
        "id",
        F.md5("payload").alias("payload_md5"),
        F.length("payload").cast("bigint").alias("byte_len"),
    )


@query(
    "multimodal_ppm_roundtrip",
    oracle="""
        WITH b AS (
            SELECT doc_id, text, length(text) AS l,
                   list_sum(list_transform(
                       range(1, length(text) + 1),
                       i -> unicode(substr(text, i, 1)))) AS total
            FROM documents
        )
        SELECT doc_id AS id,
               8 AS width, 8 AS height,
               CAST((192 // l) * total
                    + CASE WHEN 192 % l = 0 THEN 0
                           ELSE list_sum(list_transform(
                                    range(1, (192 % l) + 1),
                                    i -> unicode(substr(text, i, 1)))) END
                    AS BIGINT) AS pixel_sum
        FROM b
    """,
)
def multimodal_ppm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec roundtrip, driver-verified: build a genuine binary
    PPM (P6) image per document (pixel bytes = the text's utf-8 bytes
    cycled into an 8x8 RGB tile), decode it back with the pure-numpy
    codec, and emit decoded dimensions plus the EXACT integer pixel
    sum. The oracle recomputes that sum from character codes with
    cycle arithmetic (full repeats x total + prefix), so a green row
    certifies the encode → image bytes → decode path bit-for-bit —
    not just the plumbing. Both codec passes are Arrow-batched
    mapInPandas, partition-preserving, no shuffle; integer sums mean
    zero float tolerance anywhere."""
    from spark_query_engine.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    payloads = MM.attach_ppm_payload(docs, "doc_id", "text")

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("pixel_sum", T.LongType()),
        ]
    )

    def stats(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            imgs = pdf["payload"].map(lambda b: MM.decode_ppm(bytes(b)))
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "width": imgs.map(lambda a: a.shape[1]).astype("int32"),
                    "height": imgs.map(lambda a: a.shape[0]).astype("int32"),
                    "pixel_sum": imgs.map(lambda a: int(a.sum())),
                }
            )

    return payloads.mapInPandas(stats, out_schema)


@query(
    "multimodal_wav_roundtrip",
    oracle="""
        WITH s AS (
            SELECT doc_id, i,
                   ((unicode(substr(text, (i % length(text)) + 1, 1))
                     * 231) % 4001) - 2000 AS v
            FROM documents, UNNEST(range(0, 256)) AS r(i)
        ),
        zc AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN v * pv < 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS zero_crossings
            FROM (SELECT doc_id, v,
                         LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
                  FROM s)
            GROUP BY 1
        )
        SELECT f.doc_id AS id,
               8000 AS sample_rate,
               256 AS n_samples,
               CAST(f.sample_sum AS BIGINT) AS sample_sum,
               CAST(f.energy AS BIGINT) AS energy,
               f.peak,
               z.zero_crossings
        FROM (SELECT doc_id, SUM(v) AS sample_sum, SUM(v * v) AS energy,
                     MAX(ABS(v)) AS peak
              FROM s GROUP BY 1) f
        JOIN zc z USING (doc_id)
    """,
)
def multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec roundtrip — the WAV twin of
    ``multimodal_ppm_roundtrip``: synthesize a genuine RIFF/PCM WAV
    per document (256 16-bit samples from the text's cycled bytes),
    decode it back with the pure-numpy RIFF chunk walker, and emit
    integer-exact signal features: sample sum, energy (Σv²), peak
    |v|, and strict-sign zero crossings. The oracle materializes the
    identical 256-sample sequence per document in SQL and recomputes
    every feature, so a green row certifies encode → RIFF bytes →
    decode → DSP arithmetic end to end with zero float tolerance
    (the stdlib ``wave`` module independently parses these payloads
    in tests). Both codec passes are Arrow-batched mapInPandas,
    partition-preserving, no shuffle."""
    from spark_query_engine.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    payloads = MM.attach_wav_payload(docs, "doc_id", "text")

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("sample_sum", T.LongType()),
            T.StructField("energy", T.LongType()),
            T.StructField("peak", T.IntegerType()),
            T.StructField("zero_crossings", T.LongType()),
        ]
    )

    def stats(batches):
        import numpy as np
        import pandas as pd

        def feats(b: bytes):
            rate, v = MM.decode_wav(bytes(b))
            v = v.astype(np.int64)
            return (
                rate,
                len(v),
                int(v.sum()),
                int((v * v).sum()),
                int(np.abs(v).max()),
                int(np.sum(v[1:] * v[:-1] < 0)),
            )

        for pdf in batches:
            rows = pdf["payload"].map(feats)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "sample_rate": rows.map(lambda t: t[0]).astype("int32"),
                    "n_samples": rows.map(lambda t: t[1]).astype("int32"),
                    "sample_sum": rows.map(lambda t: t[2]),
                    "energy": rows.map(lambda t: t[3]),
                    "peak": rows.map(lambda t: t[4]).astype("int32"),
                    "zero_crossings": rows.map(lambda t: t[5]),
                }
            )

    return payloads.mapInPandas(stats, out_schema)


@query(
    "multimodal_frame_sample",
    oracle="""
        WITH k AS (
            SELECT doc_id, text, length(text) AS l,
                   1 + doc_id % 5 AS nf
            FROM documents
        ),
        fr AS (SELECT doc_id, l, text, unnest(range(0, nf)) AS f FROM k),
        px AS (
            SELECT doc_id, f,
                   unicode(substr(text, ((f * 192 + j) % l) + 1, 1)) AS c
            FROM (SELECT * FROM fr WHERE f % 2 = 0),
                 UNNEST(range(0, 192)) AS r(j)
        )
        SELECT doc_id AS id, CAST(f AS INT) AS frame_idx,
               CAST(SUM(c) AS BIGINT) AS pixel_sum
        FROM px GROUP BY 1, 2
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-shape pipeline, driver-verified: build a multi-frame
    container per document (1 + id mod 5 concatenated binary PPM
    frames, each frame's pixels advancing through the text's cycled
    bytes), then FRAME-SAMPLE it — split the container with the real
    codec, keep every 2nd frame, and emit each kept frame's exact
    integer pixel sum. The oracle recomputes every sampled frame's
    sum from character codes at the same cycle offsets, so container
    build → byte layout → split → decode → sample all hash-verify.

    Scale: one Arrow-batched mapInPandas builds containers, a second
    splits/samples them — both partition-preserving, no shuffle; the
    per-row fan-out is the kept-frame count. At 100 TB the container
    column is exactly how packed video bytes ride in lakehouse
    tables; the sampler's cost is decode-bounded, which is why it
    rides next to the scan instead of behind a shuffle."""
    from spark_query_engine.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    vids = MM.attach_video_payload(docs, "doc_id", "text")

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("pixel_sum", T.LongType()),
        ]
    )

    def sample(batches):
        import pandas as pd

        for pdf in batches:
            ids, fidx, sums = [], [], []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                for f, frame in enumerate(MM.split_frames(payload)):
                    if f % 2 == 0:
                        ids.append(i)
                        fidx.append(f)
                        sums.append(int(frame.sum()))
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int32"),
                    "pixel_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return vids.mapInPandas(sample, out_schema)


@query(
    "multimodal_image_dedup",
    oracle="""
        WITH b AS (
            SELECT doc_id, text, length(text) AS l FROM documents
        ),
        g AS (
            SELECT doc_id, i AS cell,
                   unicode(substr(text, ((3*i) % l) + 1, 1))
                 + unicode(substr(text, ((3*i+1) % l) + 1, 1))
                 + unicode(substr(text, ((3*i+2) % l) + 1, 1)) AS gray
            FROM b, UNNEST(range(0, 64)) AS t(i)
        ),
        tot AS (SELECT doc_id, SUM(gray) AS total FROM g GROUP BY doc_id),
        h AS (
            SELECT g.doc_id,
                   SUM(CASE WHEN g.cell < 32 AND 64 * g.gray > t.total
                            THEN (1::BIGINT << g.cell) ELSE 0 END) AS h_lo,
                   SUM(CASE WHEN g.cell >= 32 AND 64 * g.gray > t.total
                            THEN (1::BIGINT << (g.cell - 32))
                            ELSE 0 END) AS h_hi
            FROM g JOIN tot t ON g.doc_id = t.doc_id
            GROUP BY g.doc_id
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.h_lo, b.h_lo))
                    + bit_count(xor(a.h_hi, b.h_hi)) AS INT) AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.h_lo, b.h_lo))
              + bit_count(xor(a.h_hi, b.h_hi)) <= 3
    """,
)
def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection — the multimodal analogue of
    simhash dedup: build real binary PPM images (pixel bytes = the
    text's utf-8 bytes cycled into the 8x8 tile), fingerprint each
    with the integer-exact average-hash (``ahash_images``), and find
    Hamming-≤3 pairs via pigeonhole multi-index blocking
    (``ahash_near_duplicates`` — footer-sized group width, r9: the 4
    disjoint 16-bit bands at driver scales, C(8,g) byte-band groups
    past ~1M images since the 64-bit aHash cannot widen like simhash;
    EXACT recall at every width, never all-pairs).

    The oracle replays the whole pipeline from character codes:
    cycled pixel bytes → gray sums → cross-multiplied mean bits →
    two 32-bit hash words → brute-force Hamming join. A green row
    certifies the binary codec, the Arrow batch path, and the
    blocking join end-to-end with zero float tolerance.

    At 100 TB: hashing is a partition-preserving scan (decode +
    64-int reduction per image); only the 10-byte-ish hash relation
    shuffles, through the same banded equi-join as every other dedup
    family member. Swapping aHash for a learned embedding changes the
    fingerprint UDF, not the plan."""
    from spark_query_engine.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    payloads = MM.attach_ppm_payload(docs, "doc_id", "text")
    return MM.ahash_near_duplicates(
        MM.ahash_images(payloads),
        n=footer_rows(spark, sf_dir, "documents"),
        max_distance=3,
    )


@query(
    "multimodal_audio_vad",
    oracle="""
        WITH s AS (
            SELECT doc_id, i,
                   ((unicode(substr(text, (i % length(text)) + 1, 1))
                     * 231) % 4001) - 2000 AS v
            FROM documents, UNNEST(range(0, 256)) AS r(i)
        ),
        fr AS (
            SELECT doc_id, i // 16 AS frame, SUM(v * v) AS energy
            FROM s GROUP BY doc_id, i // 16
        ),
        tot AS (SELECT doc_id, SUM(energy) AS total FROM fr GROUP BY doc_id),
        act AS (
            SELECT f.doc_id, f.frame, f.energy,
                   CASE WHEN 16 * f.energy > t.total THEN 1 ELSE 0 END
                       AS active
            FROM fr f JOIN tot t USING (doc_id)
        ),
        runs AS (
            SELECT doc_id, frame, energy, active,
                   frame - ROW_NUMBER() OVER (
                       PARTITION BY doc_id, active ORDER BY frame
                   ) AS grp
            FROM act
        ),
        segs AS (
            SELECT doc_id, grp, COUNT(*) AS seg_len
            FROM runs WHERE active = 1
            GROUP BY doc_id, grp
        )
        SELECT a.doc_id AS id,
               16 AS n_frames,
               CAST(SUM(a.active) AS BIGINT) AS n_active,
               CAST(COALESCE((SELECT COUNT(*) FROM segs s
                              WHERE s.doc_id = a.doc_id), 0) AS BIGINT)
                   AS n_segments,
               CAST(COALESCE((SELECT MAX(seg_len) FROM segs s
                              WHERE s.doc_id = a.doc_id), 0) AS BIGINT)
                   AS longest_run,
               CAST(SUM(CASE WHEN a.active = 1 THEN a.energy ELSE 0 END)
                    AS BIGINT) AS active_energy
        FROM act a
        GROUP BY a.doc_id
    """,
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-detection-style segmentation over REAL WAV
    payloads — the audio curation pass that drops silence before
    transcription: decode the RIFF/PCM container, frame the signal
    (16 frames x 16 samples), mark frames whose energy exceeds the
    per-clip mean (cross-multiplied ``16·e > Σe`` — exact integers,
    no float threshold), and run-length the active mask into speech
    segments. Emits per clip: active-frame count, segment count,
    longest run, and the energy inside active segments — every value
    an exact integer, so the oracle replays the whole DSP chain from
    character codes.

    Arrow-batched mapInPandas over the payload relation (decode +
    16-frame reduction per clip), partition-preserving, no shuffle —
    the same 100 TB shape as the codec roundtrips; a real VAD swaps
    the energy rule for a model without touching the plan."""
    from spark_query_engine.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    payloads = MM.attach_wav_payload(docs, "doc_id", "text")

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("n_active", T.LongType()),
            T.StructField("n_segments", T.LongType()),
            T.StructField("longest_run", T.LongType()),
            T.StructField("active_energy", T.LongType()),
        ]
    )

    def vad(batches):
        import numpy as np
        import pandas as pd

        def feats(payload: bytes):
            _rate, samples = MM.decode_wav(bytes(payload))
            v = samples.astype(np.int64)
            e = (v * v).reshape(16, 16).sum(axis=1)  # frame energies
            total = int(e.sum())
            active = 16 * e > total
            # run-length over the 16-frame mask
            n_segments = int(
                np.count_nonzero(
                    active & ~np.concatenate(([False], active[:-1]))
                )
            )
            longest = run = 0
            for a in active:
                run = run + 1 if a else 0
                longest = max(longest, run)
            return (
                int(active.sum()),
                n_segments,
                longest,
                int(e[active].sum()),
            )

        for pdf in batches:
            fs = pdf["payload"].map(feats)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_frames": 16,
                    "n_active": fs.map(lambda t: t[0]),
                    "n_segments": fs.map(lambda t: t[1]),
                    "longest_run": fs.map(lambda t: t[2]),
                    "active_energy": fs.map(lambda t: t[3]),
                }
            )

    return payloads.mapInPandas(vad, out_schema)


@query(
    "multimodal_scene_cuts",
    oracle="""
        WITH k AS (
            SELECT doc_id, text, length(text) AS l,
                   1 + doc_id % 5 AS nf
            FROM documents
        ),
        px AS (
            SELECT doc_id, nf, f.f AS f, r.j AS j,
                   unicode(substr(text, ((f.f * 192 + r.j) % l) + 1, 1)) AS c
            FROM k, UNNEST(range(0, nf)) AS f(f),
                 UNNEST(range(0, 192)) AS r(j)
        ),
        d AS (
            SELECT a.doc_id, a.nf, a.f AS t,
                   SUM(ABS(a.c - b.c)) AS diff
            FROM px a JOIN px b
              ON a.doc_id = b.doc_id AND a.j = b.j AND b.f = a.f + 1
            GROUP BY a.doc_id, a.nf, a.f
        ),
        tot AS (
            SELECT doc_id, nf, COUNT(*) AS n_transitions,
                   SUM(diff) AS total_diff, MAX(diff) AS max_diff
            FROM d GROUP BY doc_id, nf
        )
        SELECT k.doc_id AS id,
               CAST(k.nf AS INT) AS n_frames,
               CAST(COALESCE(t.n_transitions, 0) AS BIGINT)
                   AS n_transitions,
               CAST(COALESCE((SELECT COUNT(*) FROM d
                              WHERE d.doc_id = k.doc_id
                                AND t.n_transitions * d.diff
                                    > t.total_diff), 0) AS BIGINT)
                   AS n_cuts,
               CAST(COALESCE(t.max_diff, 0) AS BIGINT) AS max_diff,
               CAST(COALESCE(t.total_diff, 0) AS BIGINT) AS total_diff
        FROM k LEFT JOIN tot t USING (doc_id)
    """,
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the REAL multi-frame containers — the
    video twin of the audio VAD: split each container with the codec,
    compute the L1 pixel difference between consecutive decoded
    frames, and flag transitions whose difference exceeds the clip's
    mean (integer cross-multiplication ``n·d > Σd`` — no float
    threshold). Single-frame clips report zero transitions — the
    LEFT-join/COALESCE edge both engines must agree on.

    This is the shot-boundary pass every video-curation pipeline
    runs before frame dedup (cut-adjacent frames are near-dups of
    nothing); the decode → per-frame reduction stays Arrow-batched
    and partition-preserving, and the oracle replays byte cycling →
    frame pixels → L1 diffs → mean gate from character codes."""
    from spark_query_engine.operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    vids = MM.attach_video_payload(docs, "doc_id", "text")

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("n_transitions", T.LongType()),
            T.StructField("n_cuts", T.LongType()),
            T.StructField("max_diff", T.LongType()),
            T.StructField("total_diff", T.LongType()),
        ]
    )

    def cuts(batches):
        import numpy as np
        import pandas as pd

        def feats(payload: bytes):
            frames = [
                f.astype(np.int64).ravel()
                for f in MM.split_frames(bytes(payload))
            ]
            diffs = [
                int(np.abs(frames[i] - frames[i + 1]).sum())
                for i in range(len(frames) - 1)
            ]
            n_tr = len(diffs)
            total = sum(diffs)
            n_cuts = sum(1 for d in diffs if n_tr * d > total)
            return (
                len(frames),
                n_tr,
                n_cuts,
                max(diffs) if diffs else 0,
                total,
            )

        for pdf in batches:
            fs = pdf["payload"].map(feats)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_frames": fs.map(lambda t: t[0]),
                    "n_transitions": fs.map(lambda t: t[1]),
                    "n_cuts": fs.map(lambda t: t[2]),
                    "max_diff": fs.map(lambda t: t[3]),
                    "total_diff": fs.map(lambda t: t[4]),
                }
            )

    return vids.select("id", "payload").mapInPandas(cuts, out_schema)
