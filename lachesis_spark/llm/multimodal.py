"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

Beyond-reference surface for a pretraining-data pipeline: media payloads
travel as ``binary`` columns with a typed metadata struct; decode /
feature-extraction / resize / frame-sampling run as Arrow-batched
``mapInPandas`` stages.  PPM (netpbm P6), WAV (RIFF/PCM-16) and PNG
(zlib IDAT + all five scanline filters) have REAL pure-stdlib codecs here
— no external libraries needed; only formats whose codecs genuinely can't
be built from the stdlib (JPEG/MP3/H.264) fall back to the clearly-marked
deterministic ``_decode_stub``.  Everything Spark-side — schema,
partitioning, UDF signatures, batch iteration — is identical between real
and stub paths, so swapping in PIL/ffmpeg changes no plan shape.

Scale: payloads never leave the executors and never pass through the driver;
mapInPandas streams Arrow batches, so a 100 TB media corpus is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` × mean payload size per
task, not by row count.  Metadata-only queries (mm_meta_stats) prune the
payload column out of the parquet scan entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lachesis_spark.binding import base_table

META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", META_SCHEMA),
    ]
)


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a deterministic media table from ``documents`` (text bytes as
    payload, metadata from the doc id) — engine-side only, no Python."""
    docs = base_table(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    meta = F.struct(
        (F.lit(64) + (F.col("doc_id") % 3) * 32).cast("int").alias("width"),
        (F.lit(48) + (F.col("doc_id") % 5) * 16).cast("int").alias("height"),
        F.lit(16000).cast("int").alias("sample_rate"),
        (F.lit(8) + (F.col("doc_id") % 7)).cast("int").alias("n_frames"),
        F.lit("raw").alias("format"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        meta.alias("meta"),
    )


# ---------------------------------------------------------------------------
# Decoders.  PPM (P6) and WAV (RIFF/PCM16) are REAL codecs implemented in
# pure Python/numpy + stdlib `wave` — no external libraries.  Compressed
# formats (JPEG/PNG/MP3/H.264) remain stubbed: the container has no codec
# libraries, and `_decode_stub` is the clearly-marked fallback for them.
def decode_ppm(payload: bytes):
    """Real binary-PPM (P6) image decoder.

    Parses the textual header (magic, width, height, maxval, ``#`` comments
    allowed per the netpbm spec) then views the raw RGB byte plane as a
    (height, width, 3) uint8 array.  Raises ValueError on malformed input.
    """
    import numpy as np

    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header tokens are whitespace-separated; '#' starts a comment to EOL
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(payload[start:pos])
    pos += 1  # single whitespace after maxval, then raw data
    w, h, maxval = int(tokens[0]), int(tokens[1]), int(tokens[2])
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    need = w * h * 3
    raw = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
    return raw.reshape(h, w, 3)


def decode_wav(payload: bytes):
    """Real RIFF/WAVE PCM-16 audio decoder via the stdlib ``wave`` module.

    Returns ``(samples, sample_rate)`` with samples shaped
    (n_frames, n_channels) int16.
    """
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as wv:
        if wv.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM supported")
        frames = wv.readframes(wv.getnframes())
        samples = np.frombuffer(frames, dtype="<i2").reshape(
            -1, wv.getnchannels()
        )
        return samples, wv.getframerate()


def encode_wav(samples, sample_rate: int = 16000) -> bytes:
    """Write int16 mono samples to RIFF/WAVE PCM bytes (stdlib ``wave``)."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(sample_rate)
        wv.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(arr, filters=None) -> bytes:
    """Real PNG encoder (pure stdlib: zlib + struct): 8-bit RGB (color
    type 2), no interlace.  ``filters`` picks the per-scanline filter type
    (int, or a per-line sequence cycling 0..4); all five spec filters —
    None/Sub/Up/Average/Paeth — are implemented, forward-filtered with
    wrapping uint8 arithmetic exactly as RFC 2083 §6 defines."""
    import struct
    import zlib

    import numpy as np

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, ch = a.shape
    if ch != 3:
        raise ValueError("encode_png writes 8-bit RGB (h, w, 3)")
    bpp = 3
    if filters is None:
        filters = 0
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.uint8)
    for y in range(h):
        ft = int(filters[y % len(filters)]) if hasattr(filters, "__len__") else int(filters)
        cur = a[y].reshape(-1)
        left = np.concatenate([np.zeros(bpp, dtype=np.uint8), cur[:-bpp]])
        if ft == 0:
            out = cur
        elif ft == 1:  # Sub
            out = cur - left
        elif ft == 2:  # Up
            out = cur - prev
        elif ft == 3:  # Average
            out = cur - ((left.astype(np.uint16) + prev.astype(np.uint16)) // 2).astype(np.uint8)
        elif ft == 4:  # Paeth
            up_left = np.concatenate([np.zeros(bpp, dtype=np.uint8), prev[:-bpp]])
            pa = left.astype(np.int16); pb = prev.astype(np.int16); pc = up_left.astype(np.int16)
            p = pa + pb - pc
            da, db, dc = np.abs(p - pa), np.abs(p - pb), np.abs(p - pc)
            pred = np.where((da <= db) & (da <= dc), pa, np.where(db <= dc, pb, pc))
            out = cur - pred.astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        raw.append(ft)
        raw.extend(out.tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """Real PNG decoder (pure stdlib): signature + chunk walk, IHDR parse,
    concatenated-IDAT zlib inflate, and full scanline UNfiltering for all
    five spec filter types.  Supports 8-bit depth, color types 0 (gray),
    2 (RGB) and 6 (RGBA), no interlace — i.e. everything this repo's
    encoder (and most ML-corpus PNGs) produce; anything else raises.

    The linear filters vectorize: Up is one array add; Sub is a per-channel
    strided cumulative sum mod 256 (x_i = Σ raw over the stride).  Average
    and Paeth are order-dependent through the floor/predictor, so those
    lines run a tight bytearray loop — C-level indexing, no numpy scalar
    overhead.  Returns (h, w, channels) uint8 (channels squeezed for gray).
    """
    import struct
    import zlib

    import numpy as np

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # skip CRC
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(f"unsupported PNG shape: depth={depth} interlace={interlace}")
    channels = {0: 1, 2: 3, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"unsupported color type {ctype}")
    bpp = channels
    stride = w * bpp
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT size does not match dimensions")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        )
        if ft == 0:
            cur = line.copy()
        elif ft == 1:  # Sub: strided cumsum mod 256
            cur = (
                np.cumsum(line.reshape(w, bpp).astype(np.int64), axis=0) % 256
            ).astype(np.uint8).reshape(-1)
        elif ft == 2:  # Up
            cur = line + prev
        elif ft in (3, 4):  # Average / Paeth: order-dependent, byte loop
            buf = bytearray(line.tobytes())
            pv = prev.tobytes()
            if ft == 3:
                for i in range(stride):
                    left = buf[i - bpp] if i >= bpp else 0
                    buf[i] = (buf[i] + ((left + pv[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    a = buf[i - bpp] if i >= bpp else 0
                    b = pv[i]
                    c = pv[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = c
                    buf[i] = (buf[i] + pred) & 0xFF
            cur = np.frombuffer(bytes(buf), dtype=np.uint8)
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = cur
        prev = out[y]
    img = out.reshape(h, w, channels)
    return img[:, :, 0] if channels == 1 else img


def _decode_stub(payload: bytes, width: int, height: int):
    """STUB decoder for the formats with NO in-container codec left —
    JPEG/MP3/H.264 (PPM, WAV and PNG have real pure-stdlib codecs above):
    deterministic fake pixel array from the payload bytes (tiled), shaped
    (height, width, 3) uint8.  NOT a real image decode — a real
    implementation would be ``np.asarray(PIL.Image.open(io.BytesIO(p)))``."""
    import numpy as np

    need = width * height * 3
    buf = np.frombuffer(payload, dtype=np.uint8)
    if buf.size == 0:
        buf = np.zeros(1, dtype=np.uint8)
    reps = -(-need // buf.size)  # ceil
    return np.tile(buf, reps)[:need].reshape(height, width, 3)


def decode_image(payload: bytes, width: int, height: int):
    """Dispatch on magic bytes: real PPM/PNG decodes when the payload IS
    one; deterministic stub only for codec-less formats (JPEG etc.)."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:8] == PNG_SIG:
        return decode_png(payload)
    return _decode_stub(payload, width, height)


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("std_px", T.DoubleType()),
        T.StructField("aspect", T.DoubleType()),
    ]
)


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + per-image feature extraction over Arrow batches.  PPM
    payloads take the real decoder; others the stub (see decode_image)."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                m = r.meta
                arr = decode_image(bytes(r.payload), int(m["width"]), int(m["height"]))
                out.append(
                    (
                        r.media_id,
                        float(arr.mean()),
                        float(arr.std()),
                        float(m["width"]) / float(m["height"]),
                    )
                )
            yield pd.DataFrame(out, columns=["media_id", "mean_px", "std_px", "aspect"])

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, schema=FEATURES_SCHEMA
    )


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize on the (stub-)decoded array; emits a new
    payload + updated meta.  Plan shape identical to a real resize."""

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                m = r.meta
                w, h = int(m["width"]), int(m["height"])
                arr = decode_image(bytes(r.payload), w, h)
                yi = (np.arange(out_h) * h // out_h)
                xi = (np.arange(out_w) * w // out_w)
                resized = arr[yi][:, xi]
                rows.append(
                    (
                        r.media_id,
                        r.kind,
                        resized.tobytes(),
                        {
                            "width": out_w,
                            "height": out_h,
                            "sample_rate": int(m["sample_rate"]),
                            "n_frames": int(m["n_frames"]),
                            "format": "raw",
                        },
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return media.filter(F.col("kind") == "image").mapInPandas(run, schema=MEDIA_SCHEMA)


def sample_frames(media: DataFrame, every: int = 2) -> DataFrame:
    """Video frame sampling: one output row per kept frame index.  The frame
    index fan-out is pure Catalyst (explode of a sequence — no Python); only
    a real frame *decode* would touch the payload."""
    vids = media.filter(F.col("kind") == "video")
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every))
        ).alias("frame_idx"),
        F.octet_length("payload").alias("payload_bytes"),
    )


# ---------------------------------------------------------------------------
# Registry queries
def mm_meta_stats(spark, sf_dir):
    """Metadata-only audit: per kind, payload volume + shape stats.  Never
    touches payload *contents* — the scan prunes to lengths + meta."""
    media = media_from_documents(spark, sf_dir)
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
        F.avg("meta.width").alias("avg_width"),
        F.avg("meta.height").alias("avg_height"),
        F.sum("meta.n_frames").alias("total_frames"),
    )


MM_META_STATS_SQL = """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       count(*) AS n_media,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       avg(64 + (doc_id % 3) * 32) AS avg_width,
       avg(48 + (doc_id % 5) * 16) AS avg_height,
       CAST(sum(8 + (doc_id % 7)) AS BIGINT) AS total_frames
FROM documents GROUP BY 1
"""


def mm_frame_index(spark, sf_dir):
    """Frame-sampling fan-out (every 2nd frame) — SQL-expressible because
    the fan-out itself is engine-side."""
    return sample_frames(media_from_documents(spark, sf_dir), every=2)


MM_FRAME_INDEX_SQL = """
SELECT doc_id AS media_id,
       CAST(unnest(range(0, 8 + (doc_id % 7), 2)) AS INTEGER) AS frame_idx,
       CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes
FROM documents WHERE doc_id % 3 = 2
"""


def mm_features(spark, sf_dir):
    """Image features through the decode path.  Document-derived payloads
    are raw text bytes (no P6 magic) so they take the deterministic stub;
    its tile-to-(h,w,3) arithmetic is exactly mirrored by MM_FEATURES_SQL —
    oracle-gated, not rows-only."""
    return extract_features(media_from_documents(spark, sf_dir))


def ppm_media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table whose payloads are REAL binary-PPM (P6) files, built
    engine-side: header = ``P6\\n<w> <h>\\n255\\n``, pixel plane = the
    document's ASCII text tiled (cyclic ``rpad``) to exactly w*h*3 bytes.
    No Python in the producer — the payload bytes come out of Catalyst
    string expressions, so generation scales like any projection."""
    docs = base_table(spark, sf_dir, "documents")
    imgs = docs.where(F.col("doc_id") % 3 == 0)
    w = F.lit(64) + (F.col("doc_id") % 3) * 32  # == 64 for doc_id%3==0
    h = F.lit(48) + (F.col("doc_id") % 5) * 16
    header = F.concat(
        F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"),
        F.lit("\n255\n"),
    )
    body = F.expr(
        "rpad(text, (64 + (doc_id % 3) * 32) * (48 + (doc_id % 5) * 16) * 3, text)"
    )
    meta = F.struct(
        w.cast("int").alias("width"),
        h.cast("int").alias("height"),
        F.lit(16000).cast("int").alias("sample_rate"),
        F.lit(1).cast("int").alias("n_frames"),
        F.lit("ppm").alias("format"),
    )
    return imgs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.concat(header, body), "UTF-8").alias("payload"),
        meta.alias("meta"),
    )


def mm_features_ppm(spark, sf_dir):
    """Image features over REAL PPM payloads: the P6 header is parsed and
    the pixel plane decoded by :func:`decode_ppm` (pure numpy, a real
    codec), then mean/std/aspect per image.  The oracle mirrors the pixel
    arithmetic in SQL — decoded bytes are the tiled document text."""
    return extract_features(ppm_media_from_documents(spark, sf_dir))


def png_media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table whose payloads are REAL PNG files (zlib-compressed IDAT,
    CRC'd chunks): pixel plane = the document's text bytes tiled to
    (h, w, 3) — the same plane as :func:`ppm_media_from_documents`, so the
    same oracle arithmetic applies — with the scanline filter CYCLING
    through all five spec types (line y uses filter y % 5), so the
    oracle-gated feature query exercises every unfilter path, Paeth
    included.  Encoding runs in an Arrow-batched mapInPandas stage;
    payloads never visit the driver."""

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                w = 64 + (r.doc_id % 3) * 32  # == 64 for doc_id%3==0
                h = 48 + (r.doc_id % 5) * 16
                need = w * h * 3
                buf = np.frombuffer(r.text.encode("utf-8"), dtype=np.uint8)
                reps = -(-need // buf.size)
                plane = np.tile(buf, reps)[:need].reshape(h, w, 3)
                rows.append(
                    (
                        r.doc_id,
                        "image",
                        encode_png(plane, filters=(0, 1, 2, 3, 4)),
                        {
                            "width": int(w),
                            "height": int(h),
                            "sample_rate": 16000,
                            "n_frames": 1,
                            "format": "png",
                        },
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    from lachesis_spark.operators.core import parallelism_floor

    docs = base_table(spark, sf_dir, "documents")
    imgs = docs.where(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    # zlib deflate/inflate + unfiltering cost ~ms per image — spread a
    # test-scale single-split scan before the Python stages (no-op when the
    # scan already yields >= cores splits)
    return parallelism_floor(imgs, spark).mapInPandas(run, schema=MEDIA_SCHEMA)


def mm_features_png(spark, sf_dir):
    """Image features over REAL PNG payloads: full chunk-walk + zlib
    inflate + all-five-filter unfiltering by :func:`decode_png` (pure
    stdlib, a real codec), then mean/std/aspect per image.  The decoded
    plane is the tiled document text, so the PPM oracle SQL applies
    verbatim — any filter/inflate bug breaks the hash match."""
    return extract_features(png_media_from_documents(spark, sf_dir))


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("mean_amp", T.DoubleType()),
        T.StructField("std_amp", T.DoubleType()),
        T.StructField("duration_sec", T.DoubleType()),
    ]
)


def wav_media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table whose payloads are REAL RIFF/WAVE PCM-16 files: one
    mono sample per document text byte (int16 = the byte value), 16 kHz.
    The RIFF container is written by the stdlib ``wave`` module inside an
    Arrow-batched mapInPandas stage — payloads never visit the driver."""

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                samples = np.frombuffer(
                    r.text.encode("utf-8"), dtype=np.uint8
                ).astype("<i2")
                rows.append(
                    (
                        r.doc_id,
                        "audio",
                        encode_wav(samples, 16000),
                        {
                            "width": 0,
                            "height": 0,
                            "sample_rate": 16000,
                            "n_frames": int(samples.size),
                            "format": "wav",
                        },
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    docs = base_table(spark, sf_dir, "documents")
    auds = docs.where(F.col("doc_id") % 3 == 1).select("doc_id", "text")
    return auds.mapInPandas(run, schema=MEDIA_SCHEMA)


def audio_features(media: DataFrame) -> DataFrame:
    """Real WAV decode (stdlib ``wave``) + amplitude stats per clip."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                samples, rate = decode_wav(bytes(r.payload))
                flat = samples.astype("float64").ravel()
                out.append(
                    (
                        r.media_id,
                        int(flat.size),
                        float(flat.mean()),
                        float(flat.std()),
                        float(flat.size) / float(rate),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["media_id", "n_samples", "mean_amp", "std_amp", "duration_sec"],
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(
        run, schema=AUDIO_FEATURES_SCHEMA
    )


def mm_audio_features(spark, sf_dir):
    """WAV round-trip: encode document bytes as real PCM-16 WAV files,
    decode with the stdlib RIFF parser, compute amplitude stats.  The
    oracle recomputes the same stats from the text bytes in SQL."""
    return audio_features(wav_media_from_documents(spark, sf_dir))


# Oracle arithmetic for the image-feature queries.  ASCII text (contract-
# tested in tests/test_testdata_contract.py) means ord(char) == byte value
# and length == octet_length, so the tiled pixel plane's sum / sum-of-
# squares decompose into full-repetition multiples of the per-document byte
# sums plus a prefix: tile(buf, need)[:need] with need = w*h*3.
_MM_FEATURES_SQL_TMPL = """
WITH img AS (
  SELECT doc_id, text, length(text) AS sz,
         (48 + (doc_id % 5) * 16) AS h,
         192 * (48 + (doc_id % 5) * 16) AS need
  FROM documents WHERE doc_id % 3 = 0),
byt AS (
  SELECT img.doc_id, t.i,
         ord(substring(img.text, CAST(t.i AS INTEGER), 1)) AS v,
         img.need % img.sz AS r
  FROM img, unnest(range(1, img.sz + 1)) AS t(i)),
agg AS (
  SELECT doc_id,
         sum(v) AS s, sum(v * v) AS ss,
         sum(CASE WHEN i <= r THEN v ELSE 0 END) AS pre_s,
         sum(CASE WHEN i <= r THEN v * v ELSE 0 END) AS pre_ss
  FROM byt GROUP BY doc_id),
feat AS (
  SELECT img.doc_id AS media_id,
         ((img.need // img.sz) * agg.s + agg.pre_s) / CAST(img.need AS DOUBLE) AS m,
         ((img.need // img.sz) * agg.ss + agg.pre_ss) / CAST(img.need AS DOUBLE) AS e2,
         CAST(64.0 AS DOUBLE) / img.h AS aspect
  FROM img JOIN agg USING (doc_id))
SELECT media_id, m AS mean_px, sqrt(e2 - m * m) AS std_px, aspect
FROM feat
"""

MM_FEATURES_SQL = _MM_FEATURES_SQL_TMPL
MM_FEATURES_PPM_SQL = _MM_FEATURES_SQL_TMPL  # decoded PPM plane == tiled text
MM_FEATURES_PNG_SQL = _MM_FEATURES_SQL_TMPL  # decoded PNG plane == tiled text

MM_AUDIO_FEATURES_SQL = """
WITH aud AS (
  SELECT doc_id, text, length(text) AS sz
  FROM documents WHERE doc_id % 3 = 1),
byt AS (
  SELECT aud.doc_id,
         CAST(ord(substring(aud.text, CAST(t.i AS INTEGER), 1)) AS DOUBLE) AS v
  FROM aud, unnest(range(1, aud.sz + 1)) AS t(i)),
agg AS (
  SELECT doc_id, count(*) AS n, avg(v) AS m,
         sum(v * v) / count(*) AS e2
  FROM byt GROUP BY doc_id)
SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_samples, m AS mean_amp,
       sqrt(e2 - m * m) AS std_amp, n / 16000.0 AS duration_sec
FROM agg
"""


QUERIES = {
    "mm_meta_stats": mm_meta_stats,
    "mm_frame_index": mm_frame_index,
    "mm_features": mm_features,
    "mm_features_ppm": mm_features_ppm,
    "mm_features_png": mm_features_png,
    "mm_audio_features": mm_audio_features,
}

ORACLE = {
    "mm_meta_stats": MM_META_STATS_SQL,
    "mm_frame_index": MM_FRAME_INDEX_SQL,
    "mm_features": MM_FEATURES_SQL,
    "mm_features_ppm": MM_FEATURES_PPM_SQL,
    "mm_features_png": MM_FEATURES_PNG_SQL,
    "mm_audio_features": MM_AUDIO_FEATURES_SQL,
}


def media_from_binary_files(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Ingest raw media files (sources.readers.read_binary_files) into the
    typed media schema: payload = file bytes, kind from the extension, meta
    defaulted for the stub decoder (a real pipeline fills meta by probing
    headers in the same mapInPandas pass as the decode)."""
    from lachesis_spark.sources.readers import read_binary_files

    raw = read_binary_files(spark, path, glob=glob)
    ext = F.lower(F.element_at(F.split(F.col("path"), "\\."), -1))
    kind = (
        F.when(ext.isin("png", "jpg", "jpeg", "img"), "image")
        .when(ext.isin("wav", "mp3", "flac"), "audio")
        .otherwise("video")
    )
    meta = F.struct(
        F.lit(64).cast("int").alias("width"),
        F.lit(48).cast("int").alias("height"),
        F.lit(16000).cast("int").alias("sample_rate"),
        F.lit(8).cast("int").alias("n_frames"),
        ext.alias("format"),
    )
    return raw.select(
        F.abs(F.xxhash64("path")).alias("media_id"),
        kind.alias("kind"),
        F.col("content").alias("payload"),
        meta.alias("meta"),
    )
