"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images / audio / video ride through the engine as ``binary`` columns
with a metadata struct, exactly how large-scale multimodal training
pipelines store them in parquet. The Spark-side plumbing here is real
and tested — schema, partition-friendly batch shape, Arrow-batched
``mapInPandas`` UDF signatures — and the codec layer now has THREE
tiers: a REAL pure-numpy binary-PPM (P6) codec (encode/decode/
nearest-neighbor resize on actual pixels — no external library
needed), the deterministic QEIM fake container for plumbing tests,
and a Pillow-gated branch for compressed formats (JPEG/PNG), which
raises ``NotImplementedError`` in this container by design —
installing Pillow swaps one function and no Spark plan changes.

Synthetic payload format (deterministic, engine-portable):
  bytes 0..3   magic ``QEIM``
  bytes 4..7   width  (ascii, zero-padded)
  bytes 8..11  height (ascii, zero-padded)
  bytes 12..   body (utf-8 text standing in for pixel data)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_query_engine.operators import blocked_pairs, release_on_drop, widen

MAGIC = b"QEIM"

#: Output schema of decode_metadata — typed metadata alongside the payload.
META_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("magic_ok", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def read_binary_files(spark, path: str, glob: str | None = None) -> DataFrame:
    """Media INGESTION: Spark's built-in ``binaryFile`` source reads
    raw files into (path, modificationTime, length, content) rows —
    how images/audio/video enter the engine from object storage before
    any decode. Filters on path/length push down to the file listing
    (partition-level pruning over the manifest); content bytes stream
    per-file into tasks, so a 100 TB media lake parallelizes by file
    without a manifest-building preprocess. Pair with
    ``spark.sql.files.maxPartitionBytes`` to keep task memory bounded
    by the largest file batch."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def attach_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build a synthetic binary payload column from text (the testdata
    has no real media; this exercises the binary-column path with
    deterministic bytes). Width/height derive from the text length."""
    w = F.lpad((F.length(text_col) % 640).cast("string"), 4, "0")
    h = F.lpad((F.length(text_col) % 480).cast("string"), 4, "0")
    payload = F.encode(
        F.concat(F.lit(MAGIC.decode("ascii")), w, h, F.col(text_col)), "utf-8"
    )
    return widen(df).select(F.col(id_col).alias("id"), payload.alias("payload"))


def decode_metadata(df: DataFrame) -> DataFrame:
    """Parse header metadata from the payload with an Arrow-batched
    mapInPandas — the realistic shape for per-item codec work: one
    Python invocation per Arrow batch (not per row), columnar in/out,
    preserves partitioning (no shuffle)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf["payload"]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "byte_len": raw.str.len().astype("int64"),
                    "magic_ok": raw.str[:4].map(lambda b: bytes(b) == MAGIC),
                    "width": raw.str[4:8].map(lambda b: int(bytes(b).decode())),
                    "height": raw.str[8:12].map(lambda b: int(bytes(b).decode())),
                }
            )

    return df.mapInPandas(parse, META_SCHEMA)


def encode_ppm(width: int, height: int, pixels) -> bytes:
    """Encode an (h, w, 3) uint8 array as a binary PPM (P6) payload —
    a REAL image format, byte-compatible with every PPM reader."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8).reshape(height, width, 3)
    return f"P6\n{width} {height}\n255\n".encode() + arr.tobytes()


def decode_ppm(payload: bytes):
    """REAL image decode, zero external deps: binary PPM (P6) parses
    with numpy alone (ascii header: magic, width height, maxval; then
    w*h*3 raw bytes). Returns an (h, w, 3) uint8 array."""
    import re

    import numpy as np

    # Per the P6 spec the header's three numeric fields are separated
    # by whitespace RUNS, but exactly ONE whitespace byte follows
    # maxval before the raster. A plain split(maxsplit=4) would eat a
    # whole whitespace run there and corrupt any image whose first
    # pixel bytes are ASCII whitespace (9-13, 32) — so consume exactly
    # one byte after maxval.
    m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", payload)
    if not m:
        raise ValueError("not a P6 PPM payload")
    w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    body = payload[m.end() : m.end() + w * h * 3]
    return np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)


def resize_pixels(img, new_w: int, new_h: int):
    """Nearest-neighbor resample, pure numpy — deterministic (index
    arithmetic only, no float kernels), so distributed output is
    bit-identical to a sequential reference."""
    import numpy as np

    h, w = img.shape[0], img.shape[1]
    yi = (np.arange(new_h) * h) // new_h
    xi = (np.arange(new_w) * w) // new_w
    return img[yi][:, xi]


def decode_image(payload: bytes, codec: str = "auto"):
    """Decode one payload to pixels (or fake-header dims).

    ``auto`` sniffs the container: binary PPM (P6) decodes for REAL
    via the numpy codec above; the synthetic QEIM header returns its
    (height, width) via the fake path. Compressed formats (JPEG/PNG)
    still require Pillow, which this container lacks — that branch
    raises NotImplementedError by design; installing Pillow swaps in
    one function and nothing in any Spark plan changes."""
    if codec == "auto":
        if payload[:2] == b"P6":
            codec = "ppm"
        elif payload[:4] == MAGIC:
            codec = "fake"
        else:
            codec = "real"
    if codec == "ppm":
        return decode_ppm(payload)
    if codec == "fake":
        if payload[:4] != MAGIC:
            raise ValueError("bad magic")
        return (int(payload[8:12].decode()), int(payload[4:8].decode()))
    # compressed formats (JPEG/PNG/...): Pillow-gated — import probed
    # at call time so installing Pillow swaps this branch in without
    # touching any Spark plan (same mapInPandas shape either way)
    import importlib.util

    if importlib.util.find_spec("PIL") is None:
        raise NotImplementedError(
            "compressed-image decoding requires an image library not "
            "present in this environment; use PPM payloads or install "
            "Pillow"
        )
    import io

    import numpy as np
    from PIL import Image

    return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))


def attach_ppm_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build REAL binary PPM images deterministically from text: an
    8x8 RGB tile whose pixel bytes cycle the document's utf-8 bytes —
    every payload is a valid image any PPM reader opens. Pure
    JVM-side expressions would need byte cycling, so this uses the
    same Arrow-batched mapInPandas shape as the codec passes."""
    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def mk(text: str) -> bytes:
            raw = np.frombuffer(text.encode(), dtype=np.uint8)
            if raw.size == 0:
                raw = np.zeros(1, dtype=np.uint8)
            px = np.resize(raw, 8 * 8 * 3)
            return encode_ppm(8, 8, px.reshape(8, 8, 3))

        for pdf in batches:
            yield pd.DataFrame(
                {"id": pdf[id_col], "payload": pdf[text_col].map(mk)}
            )

    narrow = widen(df).select(F.col(id_col), F.col(text_col))
    return narrow.mapInPandas(build, out_schema)


def resize_ppm(df: DataFrame, new_w: int, new_h: int) -> DataFrame:
    """REAL pixel resize over PPM payloads: decode → nearest-neighbor
    resample → re-encode, Arrow-batched and partition-preserving —
    the actual 100 TB image-normalization pass (decode_metadata/resize
    exercise the same shape on the synthetic container)."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(b: bytes) -> bytes:
            img = decode_ppm(bytes(b))
            out = resize_pixels(img, new_w, new_h)
            return encode_ppm(new_w, new_h, out)

        for pdf in batches:
            yield pd.DataFrame(
                {"id": pdf["id"], "payload": pdf["payload"].map(one)}
            )

    return df.mapInPandas(do, out_schema)


def resize(df: DataFrame, new_w: int, new_h: int) -> DataFrame:
    """'Resize' each payload: rewrite the header dims, keep the body
    (the fake stands in for a pixel resample; a real one swaps the body
    transform only). Same mapInPandas shape as decode_metadata —
    Arrow-batched, partition-preserving, no shuffle; this is how a
    100 TB image-normalization pass runs."""
    out_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("payload", T.BinaryType())]
    )
    wb = str(new_w).zfill(4).encode()
    hb = str(new_h).zfill(4).encode()

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "payload": pdf["payload"].map(
                        lambda b: MAGIC + wb + hb + bytes(b)[12:]
                    ),
                }
            )

    return df.mapInPandas(do_resize, out_schema)


def extract_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """Feature extraction: a deterministic ``dim``-bucket byte
    histogram per payload body, L1-normalized — the Spark-side shape
    of an embedding-extraction pass (model inference would replace the
    histogram; schema ``array<double>`` and batching are what carry
    over). Arrow-batched, no shuffle."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def hist(b: bytes) -> list[float]:
            body = np.frombuffer(bytes(b)[12:], dtype=np.uint8)
            if body.size == 0:
                return [0.0] * dim
            counts = np.bincount(body % dim, minlength=dim).astype("float64")
            return list(counts / counts.sum())

        for pdf in batches:
            yield pd.DataFrame(
                {"id": pdf["id"], "features": pdf["payload"].map(hist)}
            )

    return df.mapInPandas(featurize, out_schema)


def extract_features_arrow(df: DataFrame, dim: int = 8) -> DataFrame:
    """``extract_features`` on the Arrow-native boundary:
    ``mapInArrow`` hands each partition as ``pyarrow.RecordBatch``es —
    no Arrow→pandas→Arrow round-trip, no object-dtype materialization
    of the binary payloads. For wide binary columns the pandas
    conversion IS the dominant cost of a mapInPandas stage, so this is
    the shape to use when the Python work itself is cheap relative to
    the data volume (byte-level featurization, codec header parsing).
    Identical output contract to ``extract_features``."""
    import pyarrow as pa

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def featurize(batches):
        import numpy as np

        def hist(b: bytes) -> list[float]:
            body = np.frombuffer(b[12:], dtype=np.uint8)
            if body.size == 0:
                return [0.0] * dim
            counts = np.bincount(body % dim, minlength=dim).astype("float64")
            return list(counts / counts.sum())

        for batch in batches:
            ids = batch.column("id")
            feats = [hist(v.as_py()) for v in batch.column("payload")]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(feats, type=pa.list_(pa.float64()))],
                names=["id", "features"],
            )

    return df.mapInArrow(featurize, out_schema)


# ---------------------------------------------------------------- WAV codec
def encode_wav(sample_rate: int, samples) -> bytes:
    """REAL WAV (RIFF/PCM) encoder, pure numpy+struct: 16-bit mono
    little-endian PCM with canonical RIFF/fmt/data chunks — byte-
    compatible with any WAV reader (the stdlib ``wave`` module parses
    these payloads in tests/test_operators.py)."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    byte_rate = sample_rate * 2
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data"
        + struct.pack("<I", len(pcm))
    )
    return hdr + pcm


def decode_wav(payload: bytes):
    """REAL WAV decoder: walk the RIFF chunk list (not fixed offsets —
    encoders may emit LIST/fact chunks before data), validate PCM
    16-bit mono, and return (sample_rate, int16 numpy array)."""
    import struct

    import numpy as np

    b = bytes(payload)
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if (fmt, ch, bits) != (1, 1, 16):
                raise ValueError(f"unsupported wav format {(fmt, ch, bits)}")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # RIFF chunks are 2-byte aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return rate, np.frombuffer(data, dtype="<i2")


#: Deterministic text→PCM synthesis: 256 samples, each
#: (charcode·231 mod 4001) − 2000 over the cycled document bytes —
#: SQL-replayable arithmetic, like the PPM tile.
WAV_N, WAV_RATE = 256, 8000


def attach_wav_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build REAL WAV payloads deterministically from text (the audio
    twin of ``attach_ppm_payload``): cycle the document's bytes into
    WAV_N 16-bit samples via (c·231 mod 4001) − 2000."""
    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def mk(text: str) -> bytes:
            raw = np.frombuffer(text.encode(), dtype=np.uint8)
            if raw.size == 0:
                raw = np.zeros(1, dtype=np.uint8)
            c = np.resize(raw.astype(np.int64), WAV_N)
            samples = (c * 231) % 4001 - 2000
            return encode_wav(WAV_RATE, samples.astype("<i2"))

        for pdf in batches:
            yield pd.DataFrame(
                {"id": pdf[id_col], "payload": pdf[text_col].map(mk)}
            )

    narrow = widen(df).select(F.col(id_col), F.col(text_col))
    return narrow.mapInPandas(build, out_schema)


def attach_video_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build a REAL multi-frame 'video' container per document: 1 +
    (id mod 5) concatenated binary PPM frames, frame f's 192 pixel
    bytes drawn from the document's cycled utf-8 bytes starting at
    offset f·192 — a deterministic, SQL-replayable moving image.
    Returns (id, n_frames, payload); the container is just
    back-to-back P6 images, so any PPM reader can split it on the
    headers."""
    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def mk(doc_id: int, text: str) -> tuple[int, bytes]:
            raw = np.frombuffer(text.encode(), dtype=np.uint8)
            if raw.size == 0:
                raw = np.zeros(1, dtype=np.uint8)
            k = 1 + int(doc_id) % 5
            frames = []
            for f in range(k):
                idx = (np.arange(192) + f * 192) % raw.size
                frames.append(encode_ppm(8, 8, raw[idx].reshape(8, 8, 3)))
            return k, b"".join(frames)

        for pdf in batches:
            built = [
                mk(i, t) for i, t in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "n_frames": [b[0] for b in built],
                    "payload": [b[1] for b in built],
                }
            )

    narrow = widen(df).select(F.col(id_col), F.col(text_col))
    return narrow.mapInPandas(build, out_schema)


def split_frames(payload: bytes) -> list:
    """Split a concatenated-PPM container into decoded frames by
    walking the stream with the real codec (each decode_ppm consumes
    exactly one header + 192 pixel bytes at these dimensions)."""
    b = bytes(payload)
    frames = []
    pos = 0
    while pos < len(b):
        # find this frame's pixel start via the same header scan the
        # codec uses, then advance by header + payload
        import re

        m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", b[pos:])
        if not m:
            raise ValueError(f"bad frame header at offset {pos}")
        w, h = int(m.group(1)), int(m.group(2))
        size = m.end() + w * h * 3
        frames.append(decode_ppm(b[pos : pos + size]))
        pos += size
    return frames


def ahash_images(payloads: DataFrame) -> DataFrame:
    """Integer-exact average-hash (aHash) per image: decode the PPM
    payload, collapse each pixel to an integer gray value (r+g+b — a
    sum, not a float luma, so no rounding anywhere), and set bit i of
    the 64-bit hash iff cell i is brighter than the image mean. The
    mean comparison is cross-multiplied (``64*g_i > total``) so the
    whole fingerprint is exact integer arithmetic end-to-end — an
    oracle can replay it from the source bytes, unlike float
    DCT-based pHash.

    Returns (id, h_lo, h_hi): two 32-bit halves in BIGINTs, keeping
    every value positive (bit 63 of a single word would wrap signed
    64-bit in SQL engines). Arrow-batched mapInPandas over the
    payload relation — partition-preserving, no shuffle."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("h_lo", T.LongType()),
            T.StructField("h_hi", T.LongType()),
        ]
    )

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def ah(payload: bytes) -> tuple[int, int]:
            img = decode_ppm(bytes(payload))  # (h, w, 3) uint8
            gray = img.astype(np.int64).sum(axis=2).ravel()  # 64 ints
            total = int(gray.sum())
            bits = (64 * gray > total).astype(np.uint64)
            word = int((bits << np.arange(64, dtype=np.uint64)).sum())
            return word & 0xFFFFFFFF, word >> 32

        for pdf in batches:
            hashes = pdf["payload"].map(ah)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "h_lo": hashes.map(lambda t: t[0]),
                    "h_hi": hashes.map(lambda t: t[1]),
                }
            )

    return payloads.mapInPandas(hash_batch, out_schema)


def ahash_group_size(n: int, max_distance: int = 3) -> int:
    """Footer-sized group width for the aHash multi-index blocking
    (r9): unlike SimHash, the 64-bit aHash cannot WIDEN with the
    corpus (the hash is the perceptual feature), so past the fixed
    4×16-bit bands' n²·4/2¹⁶ collision term the blocking generalizes
    to MULTI-INDEX HASHING (Norouzi, Punjani & Fleet, CVPR 2012):
    split into 8 byte-bands and join on GROUPS of g bands (8·g-bit
    keys). Pigeonhole: d ≤ max_distance errors dirty ≤ d bands,
    leaving ≥ 8−d clean, so taking ALL C(8,g) combinations keeps
    recall EXACT for every g ≤ 8−d. Returns the smallest g whose
    expected bucket occupancy C(8,g)·n/2^(8g) stays ≤ 64:

      g=2 → n ≤ ~1.0e6 (the historical 4 disjoint 16-bit bands)
      g=3 → n ≤ ~1.9e7   g=4 → n ≤ ~3.9e9   g=5 → n ≤ ~1.25e12

    At g=2 the 4 DISJOINT adjacent pairs (not all C(8,2)) suffice —
    but only for max_distance ≤ 3 (d ≤ 3 errors dirty ≤ 3 of the 4
    disjoint pairs; 4 errors can dirty all 4), so the shortcut and
    its ngroups=4 occupancy term apply only there (r9 ADVICE).

    Candidate volume at n=1e8 images: fixed bands ≈ 3e11 random
    collisions; g=4 ≈ 8e7 — the price is a C(8,g)-key fan-out of the
    ~10-byte hash relation, linear in n."""
    import math

    for g in range(2, 8 - max_distance + 1):
        ngroups = 4 if g == 2 and max_distance <= 3 else math.comb(8, g)
        if ngroups * n / float(1 << (8 * g)) <= 64:
            return g
    return 8 - max_distance


def ahash_near_duplicates(
    hashes: DataFrame,
    n: int,
    max_distance: int = 3,
) -> DataFrame:
    """Image near-dup pairs by Hamming distance over the 64-bit aHash,
    with pigeonhole multi-index blocking. Returns (id_a, id_b,
    hamming).

    ``n`` is the corpus row count (from the parquet footer). The hash
    splits into 8 byte-bands, and the join keys are groups of
    ``ahash_group_size(n)`` bands. At g=2 with ``max_distance <= 3``
    the groups are the 4 disjoint adjacent byte pairs, i.e. four
    16-bit bands; at corpus scale wider groups keep bucket occupancy
    ~64 where 16-bit bands collide n²/2¹⁶ random pairs. Recall is
    exact at EVERY g (≥ 8−d clean bands always contain a clean
    g-subset) — pytest-asserted against brute force."""
    import itertools

    hs = hashes.persist()
    g = ahash_group_size(n, max_distance)
    bands = [
        F.shiftright(F.col("h_lo"), i * 8).bitwiseAND(255) for i in range(4)
    ] + [
        F.shiftright(F.col("h_hi"), i * 8).bitwiseAND(255) for i in range(4)
    ]
    # the 4-disjoint-pairs shortcut is pigeonhole-exact only for
    # max_distance <= 3 (4 errors can dirty all 4 disjoint pairs);
    # at higher distances g=2 needs all C(8,2) pairs (r9 ADVICE)
    groups = (
        [(0, 1), (2, 3), (4, 5), (6, 7)]
        if g == 2 and max_distance <= 3
        else list(itertools.combinations(range(8), g))
    )
    keys = [
        sum(
            (bands[idx].cast("long") * F.lit(1 << (8 * j)) for j, idx in enumerate(grp)),
            F.lit(0).cast("long"),
        )
        for grp in groups
    ]
    banded = hs.select(
        "id", "h_lo", "h_hi",
        F.posexplode(F.array(*keys)).alias("block_idx", "block_key"),
    )
    hamming = (
        F.bit_count(F.col("a.h_lo").bitwiseXOR(F.col("b.h_lo")))
        + F.bit_count(F.col("a.h_hi").bitwiseXOR(F.col("b.h_hi")))
    )
    out = (
        blocked_pairs(banded, ["block_idx", "block_key"])
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_distance)
        .distinct()
    )
    return release_on_drop(out, hs)
