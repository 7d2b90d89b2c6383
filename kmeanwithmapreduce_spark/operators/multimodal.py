"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode / feature-extract as Arrow-batched mapInPandas operators.

The decode kernel routes by content: PNG payloads decode for REAL via
the pure-stdlib codec in functions/png.py (zlib inflate + per-filter
unfilter incl. Paeth), and JPEG payloads — baseline AND (round 10)
progressive — via functions/jpeg.py (huffman + IDCT + YCbCr, no PIL
needed): the image formats a real corpus actually carries. Remaining
undecodable variants (arithmetic-coded/12-bit JPEG, palette/16-bit
PNG, compressed audio/video codecs — not in this container) stay on
the clearly-marked deterministic fake behind the
same plumbing a real decoder would use: schema contract, partition-
preserving mapInPandas, Arrow batch shape. Swapping ``_fake_decode``
for PIL/ffmpeg is a one-function change; everything around it (the
scale path) is real and tested.

Scale: binary payloads ride the columnar scan; mapInPandas processes
whole Arrow batches (the fake path is batch-vectorized; PNG decode is
inherently per-item, looped inside the Arrow batch), and metadata-only
queries never touch the payload column thanks to parquet column
pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.avi import decode_avi_rgb, encode_avi_rgb
from ..functions.jpeg import JPEG_MAGIC, decode_jpeg, encode_jpeg
from ..functions.png import PNG_MAGIC, decode_png, encode_png
from ..functions.wav import RIFF_MAGIC, decode_wav, encode_wav
from ..sources.readers import load_table

_AVI_SIG = (b"RIFF", b"AVI ")  # data[:4], data[8:12]

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach an opaque binary column (here: utf-8 bytes of the text,
    standing in for image/audio bytes) plus typed metadata."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8")).withColumn(
        "media_type", F.lit("image/fake")
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int, float]:
    """STUB — deterministic fake decoder. A real build would call
    PIL.Image.open / soundfile here; this container has neither, so the
    'decoded' geometry is derived from the bytes deterministically."""
    n = len(payload)
    width = 16 + (n % 64)
    height = 16 + ((n // 64) % 64)
    channels = 3
    mean_intensity = (sum(payload[:256]) / max(min(n, 256), 1)) / 255.0
    return width, height, channels, mean_intensity


def decode_batch(df: DataFrame) -> DataFrame:
    """mapInPandas decode: Arrow batches in, metadata rows out.

    PNG payloads (signature-detected) decode for REAL via
    functions/png.py: width/height/channels from IHDR, mean_intensity =
    mean of all decoded samples / 255. Non-PNG payloads take the
    labeled fake path, whose arithmetic is vectorized over the whole
    Arrow batch (NumPy on concatenated byte prefixes — no per-row
    Python loop) and matches ``_fake_decode`` element-wise (pinned in
    tests)."""
    import numpy as np

    def _fake_frame(pdf: pd.DataFrame, pay: pd.Series) -> pd.DataFrame:
        lens = pay.str.len().to_numpy(dtype=np.int64)
        plens = np.minimum(lens, 256)
        # concatenated prefixes -> one cumsum -> per-row segment sums
        cat = np.frombuffer(b"".join(pay.str.slice(0, 256)), dtype=np.uint8)
        cs = np.concatenate(([0], np.cumsum(cat, dtype=np.int64)))
        ends = np.cumsum(plens)
        bytesum = cs[ends] - cs[ends - plens]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "n_bytes": lens,
                "width": 16 + lens % 64,
                "height": 16 + (lens // 64) % 64,
                "channels": 3,
                "mean_intensity": bytesum / np.maximum(plens, 1) / 255.0,
            }
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pay = pdf["payload"].map(bytes)
            is_png = pay.str.slice(0, 8) == PNG_MAGIC
            is_jpg = (~is_png) & (pay.str.slice(0, 3) == JPEG_MAGIC)
            is_real = is_png | is_jpg
            rows = []
            fallback = []  # real-codec magic but a variant we reject
            for idx, doc_id, b, png in zip(
                pdf.index[is_real],
                pdf["doc_id"][is_real],
                pay[is_real],
                is_png[is_real],
            ):
                try:
                    # PNG: lossless stdlib codec. JPEG: huffman decoder
                    # (functions/jpeg.py, baseline + progressive);
                    # arithmetic/12-bit variants raise and take the
                    # fake path below
                    w, h, c, pix = (decode_png if png else decode_jpeg)(b)
                except ValueError:
                    # palette/16-bit/interlaced/arithmetic/truncated:
                    # the fake path, like every other undecodable media
                    # type — one bad payload must not fail the whole job
                    fallback.append(idx)
                    continue
                # sum exact in int64; /n then /255 matches the SQL
                # twin's (bytesum / n) / 255.0 op-for-op
                mean = float(pix.sum(dtype=np.int64)) / pix.size / 255.0
                rows.append((doc_id, len(b), w, h, c, mean))
            fake_idx = list(pdf.index[~is_real]) + fallback
            if fake_idx:
                yield _fake_frame(pdf.loc[fake_idx], pay.loc[fake_idx])
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "doc_id", "n_bytes", "width", "height",
                        "channels", "mean_intensity",
                    ],
                )

    return df.select("doc_id", "payload").mapInPandas(fn, DECODED_SCHEMA)


# --------------------------------------------------------------------------
# m01 — metadata-only query (never reads the payload column at the scan
# when run against a parquet sink; here payload length is the metadata).
def m01_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    blobs = with_binary_payload(d)
    return (
        blobs.select(
            "source",
            F.octet_length(F.col("payload")).cast("bigint").alias("n_bytes"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_payloads"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").cast("bigint").alias("max_bytes"),
        )
    )


M01_SQL = """
SELECT source,
       count(*) AS n_payloads,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
FROM documents
GROUP BY source
"""


# --------------------------------------------------------------------------
# m02 — decoded features via the mapInPandas stub, oracle-checked: the
# fake decoder is deterministic arithmetic on byte lengths/prefixes, and
# the oracle iterates the OCTETS of encode(text) (hex-pair parsing of
# the blob), so the equivalence holds for any corpus — ASCII or not —
# byte-for-byte. Per-document output (no cross-row float summation:
# each intensity is one identical fp op chain in both engines,
# floor-truncated at 1e-6). The mapInPandas plumbing under test here is
# exactly what a real PIL/ffmpeg decoder would ride.
def m02_decoded_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    decoded = decode_batch(with_binary_payload(d))
    return decoded.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        "channels",
        (F.floor(F.col("mean_intensity") * 1000000.0) / 1000000.0).alias(
            "intensity_t"
        ),
    )


M02_SQL = """
SELECT doc_id,
       CAST(n AS INT) AS n_bytes,
       CAST(16 + n % 64 AS INT) AS width,
       CAST(16 + (n // 64) % 64 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       floor((CAST(bytesum AS DOUBLE) / greatest(least(n, 256), 1) / 255.0)
             * 1000000.0) / 1000000.0 AS intensity_t
FROM (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         -- sum the first 256 OCTETS of the utf-8 blob (hex-pair parse),
         -- not code points of the first 256 characters: byte-exact for
         -- non-ASCII corpora too
         coalesce(list_sum(list_transform(
           range(0, least(octet_length(encode(text)), 256)),
           i -> CAST(('0x' || substr(hex(encode(text)), 1 + 2*i, 2)) AS INT)
         )), 0) AS bytesum
  FROM documents
)
"""


# --------------------------------------------------------------------------
# Transform stubs with real Spark plumbing: resize and frame-sample.
RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def resize_batch(df: DataFrame, target_w: int = 64, target_h: int = 64) -> DataFrame:
    """STUB resize: a real build would decode + PIL.resize + re-encode;
    the fake truncates/pads the byte payload to w*h deterministically.
    Plumbing (Arrow batches, schema contract, column pruning) is real."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = target_w * target_h
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                resized = (b * (n // max(len(b), 1) + 1))[:n]
                out.append((doc_id, target_w, target_h, resized))
            yield pd.DataFrame(
                out, columns=["doc_id", "width", "height", "payload"]
            )

    return df.select("doc_id", "payload").mapInPandas(fn, RESIZED_SCHEMA)


def frame_sample_batch(df: DataFrame, every_n_bytes: int = 256, max_frames: int = 8) -> DataFrame:
    """Video frame sampling, routed by content: uncompressed-RGB AVI
    payloads decode for REAL (functions/avi.py) and emit up to
    ``max_frames`` evenly-spaced decoded frames as raw RGB bytes
    (H*W*3); everything else (compressed codecs — no ffmpeg in this
    container) keeps the labeled byte-slice fake. One-to-many
    mapInPandas — the row-explosion shape of a frame extractor."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                if b[:4] == _AVI_SIG[0] and b[8:12] == _AVI_SIG[1]:
                    try:
                        _w, _h, n, frames = decode_avi_rgb(b)
                    except ValueError:
                        n = None  # compressed/corrupt AVI: fake path
                    if n is not None:
                        # NOTE: a valid zero-frame AVI emits zero rows
                        # (nothing to sample) — unlike the fake path,
                        # which always emits at least one slice
                        step = max(n // max_frames, 1)
                        for out_idx, src_idx in enumerate(
                            range(0, n, step)
                        ):
                            if out_idx >= max_frames:
                                break
                            out.append(
                                (doc_id, src_idx, frames[src_idx].tobytes())
                            )
                        continue
                # FAKE (labeled): byte slices stand in for keyframes
                for i in range(min(max(len(b) // every_n_bytes, 1), max_frames)):
                    out.append((doc_id, i, b[i * every_n_bytes : (i + 1) * every_n_bytes]))
            yield pd.DataFrame(out, columns=["doc_id", "frame_idx", "frame"])

    return df.select("doc_id", "payload").mapInPandas(fn, FRAME_SCHEMA)


# --------------------------------------------------------------------------
# m03 — end-to-end multimodal pipeline: payload -> decode -> numeric
# features -> the engine's own K-Means (composition check).
# Deterministic by construction (the k02 golden-row recipe): init
# centroids are the decoded feature vectors of the 3 lowest doc_ids and
# the Lloyd tail runs in compat mode (5-dp float32 mean rounding absorbs
# merge-order ulp noise), so the output is a fixed table per corpus and
# carries a literal VALUES oracle (M03_SQL). The decode stage is
# independently oracle-checked as m02.
def m03_cluster_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F2

    from ..kmeans import core

    d = load_table(spark, sf_dir, "documents")
    decoded = decode_batch(with_binary_payload(d))
    feats = decoded.select(
        "doc_id",
        F2.array(
            F2.col("width").cast("float"),
            F2.col("height").cast("float"),
            (F2.col("n_bytes") / 1000.0).cast("float"),
            F2.col("mean_intensity").cast("float"),
        ).alias("features"),
    )
    init = [
        [float(v) for v in r["features"]]
        for r in feats.orderBy("doc_id").limit(3).collect()
    ]
    res = core.lloyd(
        feats,
        core.KMeansParams(k=3, thresh=1e-3, max_loop=10, mode="compat"),
        init_centroids=init,
    )
    labeled = core.label(feats, res.centroids)
    return labeled.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_docs"))


# Golden-row oracle (see m03 docstring): literal VALUES per corpus,
# discriminated by lineitem count; double-run determinism-checked.
M03_SQL = """
WITH nrows AS (SELECT count(*) AS c FROM lineitem)
SELECT CAST(cluster AS INT) AS cluster,
       CAST(n_docs AS BIGINT) AS n_docs
FROM (
  SELECT * FROM (VALUES
    (0, 152), (1, 175), (2, 173)
  ) v(cluster, n_docs)
  WHERE (SELECT c FROM nrows) = 6000
  UNION ALL
  SELECT * FROM (VALUES
    (0, 168), (1, 166), (2, 166)
  ) v(cluster, n_docs)
  WHERE (SELECT c FROM nrows) = 60000
  UNION ALL
  SELECT * FROM (VALUES
    (0, 1698), (1, 1679), (2, 1623)
  ) v(cluster, n_docs)
  WHERE (SELECT c FROM nrows) = 600000
)
"""


# --------------------------------------------------------------------------
# m04 — REAL PNG decode, oracle-verified. Each document's first 256
# utf-8 bytes (zero-padded) become a 16x16 grayscale image, PNG-encoded
# with filter type doc_id % 5 — every unfilter branch (None/Sub/Up/
# Average/Paeth) is exercised across the corpus — then decoded through
# the REAL stdlib codec in the shared decode_batch kernel. DuckDB can't
# read PNG, but it doesn't need to: decode is lossless, so the decoded
# pixel mean equals the (SQL-computable) source byte mean — a wrong
# unfilter shifts pixel sums and hash-fails. Geometry (16/16/1) pins the
# IHDR parse.
def encode_png_batch(df: DataFrame, w: int = 16, h: int = 16) -> DataFrame:
    """mapInPandas PNG encoder: payload bytes -> w*h grayscale PNG
    (truncate/zero-pad), filter type = doc_id % 5."""
    import numpy as np

    n = w * h
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)[:n].ljust(n, b"\x00")
                pix = np.frombuffer(b, dtype=np.uint8).reshape(h, w)
                rows.append((doc_id, encode_png(pix, int(doc_id) % 5)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return df.select("doc_id", "payload").mapInPandas(fn, schema)


def m04_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pngs = encode_png_batch(with_binary_payload(d))
    decoded = decode_batch(pngs)
    return decoded.select(
        "doc_id",
        "width",
        "height",
        "channels",
        (F.floor(F.col("mean_intensity") * 1000000.0) / 1000000.0).alias(
            "intensity_t"
        ),
    )


# mean over the 16*16=256 zero-padded pixels: (bytesum / 256.0) / 255.0
# — sum exact in both engines, /256 exact (power of two), one shared
# rounding at /255, floor-truncated at 1e-6 like m02.
M04_SQL = """
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST(1 AS INT) AS channels,
       floor(((CAST(bytesum AS DOUBLE) / 256.0) / 255.0)
             * 1000000.0) / 1000000.0 AS intensity_t
FROM (
  SELECT doc_id,
         coalesce(list_sum(list_transform(
           range(0, least(octet_length(encode(text)), 256)),
           i -> CAST(('0x' || substr(hex(encode(text)), 1 + 2*i, 2)) AS INT)
         )), 0) AS bytesum
  FROM documents
)
"""


# --------------------------------------------------------------------------
# Audio: REAL WAV/PCM decode (functions/wav.py — the PNG move applied
# to audio; only video remains on the disclosed fake).
AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def decode_audio_batch(df: DataFrame) -> DataFrame:
    """mapInPandas audio decode. RIFF/WAVE payloads decode for REAL
    (16-bit PCM: header fields + exact-integer sum-of-squares RMS);
    anything else takes a labeled deterministic fake (same plumbing a
    real soundfile/ffmpeg decoder would ride)."""
    import numpy as np

    def _rows(pdf: pd.DataFrame, pay: pd.Series):
        rows = []
        for doc_id, b in zip(pdf["doc_id"], pay):
            # RIFF alone is not enough (AVI and WebP are RIFF too);
            # require the WAVE form type, and fall back on variants
            # decode_wav rejects (float, 24-bit — IMA ADPCM decodes
            # for REAL since round 11, MS ADPCM since round 12, G.711
            # mu-law/A-law since round 13) — one bad payload must not
            # fail the whole job
            decoded = None
            if b[:4] == RIFF_MAGIC and b[8:12] == b"WAVE":
                try:
                    decoded = decode_wav(b)
                except ValueError:
                    decoded = None
            if decoded is not None:
                rate, ch, samples = decoded
                if samples.dtype.kind == "f":
                    # IEEE-float WAV (round 13): float64 sum of squares
                    # (not an oracle surface — m05's SQL twin covers
                    # the exact-integer PCM path only)
                    sumsq = float(
                        (samples.astype(np.float64) ** 2).sum()
                    )
                    rms = float(np.sqrt(sumsq / max(samples.size, 1)))
                elif samples.dtype == np.int32:
                    # 24-bit PCM: per-sample squares reach 7.04e13, so
                    # a whole-file int64 sum overflows past ~131k
                    # samples — accumulate exact chunk sums (each
                    # bounded well under 2**63) into a Python int
                    flat = samples.astype(np.int64).ravel()
                    sumsq = 0
                    for o in range(0, flat.size, 65536):
                        c = flat[o : o + 65536]
                        sumsq += int((c * c).sum())
                    rms = float(
                        np.sqrt(float(sumsq) / max(samples.size, 1))
                    )
                else:
                    ss = samples.astype(np.int64)
                    sumsq = int((ss * ss).sum())
                    # exact int64 sum; /size exact for power-of-two
                    # sizes; sqrt is IEEE correctly-rounded — bit-equal
                    # to the SQL twin's sqrt(sumsq / n)
                    rms = float(
                        np.sqrt(float(sumsq) / max(samples.size, 1))
                    )
                rows.append(
                    (doc_id, len(b), rate, ch, samples.shape[0], rms)
                )
            else:
                # FAKE (labeled): deterministic stand-in for non-WAV
                # audio — no codec in this container
                n = len(b)
                rms = float(sum(b[:256]) / max(min(n, 256), 1))
                rows.append((doc_id, n, 16_000, 1, n // 2, rms))
        return pd.DataFrame(
            rows,
            columns=[
                "doc_id", "n_bytes", "sample_rate", "n_channels",
                "n_frames", "rms",
            ],
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _rows(pdf, pdf["payload"].map(bytes))

    return df.select("doc_id", "payload").mapInPandas(fn, AUDIO_SCHEMA)


def encode_wav_batch(df: DataFrame, n_samples: int = 256) -> DataFrame:
    """mapInPandas WAV encoder: payload bytes -> mono 16 kHz PCM whose
    samples are the first 2*n_samples bytes as little-endian int16
    (zero-padded) — deterministic and SQL-recomputable."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)[: 2 * n_samples].ljust(2 * n_samples, b"\x00")
                samples = np.frombuffer(raw, dtype="<i2")
                rows.append((doc_id, encode_wav(samples, 16_000)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return df.select("doc_id", "payload").mapInPandas(fn, schema)


# m05 — REAL WAV decode, oracle-verified: PCM is lossless, so the
# decoded RMS equals the (SQL-computable) RMS of the source bytes read
# as little-endian int16 pairs. Exact-integer sum of squares (<= 2^38,
# exact in BIGINT and DOUBLE), /256 exact (power of two), one shared
# correctly-rounded sqrt — then the m02/m04 1e-6 floor truncation.
def m05_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wavs = encode_wav_batch(with_binary_payload(d))
    decoded = decode_audio_batch(wavs)
    return decoded.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "n_frames",
        (F.floor(F.col("rms") * 1000000.0) / 1000000.0).alias("rms_t"),
    )


M05_SQL = """
WITH b AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         hex(encode(text)) AS hx
  FROM documents
), s AS (
  SELECT doc_id,
         list_transform(range(0, 256), k ->
           (CASE WHEN 2*k < least(n, 512)
                 THEN CAST(('0x' || substr(hx, 1 + 4*k, 2)) AS INT)
                 ELSE 0 END)
           + 256 * (CASE WHEN 2*k + 1 < least(n, 512)
                         THEN CAST(('0x' || substr(hx, 3 + 4*k, 2)) AS INT)
                         ELSE 0 END)
         ) AS us
  FROM b
)
SELECT doc_id,
       CAST(16000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(256 AS BIGINT) AS n_frames,
       floor(sqrt(CAST(list_sum(list_transform(us, v ->
                CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS BIGINT)
                * CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS BIGINT)
              )) AS DOUBLE) / 256.0) * 1000000.0) / 1000000.0 AS rms_t
FROM s
"""


# --------------------------------------------------------------------------
# m06 — REAL AVI video decode, oracle-verified. Each doc's first 60
# bytes become two 5x2 RGB frames (width 5 exercises the DIB 4-byte
# row-padding path: 15 -> 16 bytes/row); the AVI roundtrip is lossless,
# so each decoded frame's byte mean equals the SQL-recomputable mean of
# its 30 source bytes. A wrong pad-strip / row-flip / BGR swap shifts
# the byte multiset and hash-fails.
_M06_W, _M06_H, _M06_NF = 5, 2, 2
_M06_FRAME_BYTES = _M06_W * _M06_H * 3  # 30


def encode_avi_batch(df: DataFrame) -> DataFrame:
    """mapInPandas AVI encoder: payload bytes -> 2-frame 5x2 RGB video
    (truncate/zero-pad to 60 bytes), fps 10."""
    import numpy as np

    total = _M06_NF * _M06_FRAME_BYTES
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)[:total].ljust(total, b"\x00")
                frames = np.frombuffer(raw, dtype=np.uint8).reshape(
                    _M06_NF, _M06_H, _M06_W, 3
                )
                rows.append((doc_id, encode_avi_rgb(frames, fps=10)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return df.select("doc_id", "payload").mapInPandas(fn, schema)


def m06_avi_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = load_table(spark, sf_dir, "documents")
    avis = encode_avi_batch(with_binary_payload(d))

    stats_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_t", T.DoubleType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, n, frames = decode_avi_rgb(bytes(payload))
                for i in range(n):
                    s = int(frames[i].sum(dtype=np.int64))
                    mean = (float(s) / _M06_FRAME_BYTES) / 255.0
                    rows.append(
                        (doc_id, i, w, h, math.floor(mean * 1e6) / 1e6)
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height", "mean_t"],
            )

    return avis.mapInPandas(fn, stats_schema)


M06_SQL = """
WITH b AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n,
         hex(encode(text)) AS hx
  FROM documents
)
SELECT doc_id,
       CAST(fi AS INT) AS frame_idx,
       CAST(5 AS INT) AS width,
       CAST(2 AS INT) AS height,
       floor(((CAST(fsum AS DOUBLE) / 30.0) / 255.0)
             * 1000000.0) / 1000000.0 AS mean_t
FROM (
  SELECT doc_id,
         unnest(range(0, 2)) AS fi,
         unnest(list_transform(range(0, 2), f ->
           coalesce(list_sum(list_transform(range(30*f, 30*f + 30), i ->
             CASE WHEN i < n
                  THEN CAST(('0x' || substr(hx, 1 + 2*i, 2)) AS INT)
                  ELSE 0 END)), 0)
         )) AS fsum
  FROM b
)
"""


# --------------------------------------------------------------------------
# m07 — REAL baseline-JPEG decode (functions/jpeg.py): each document's
# first 256 utf-8 bytes (zero-padded) become a 16x16 grayscale image,
# JPEG-encoded at quality 50 + 10*(doc_id % 5) — five quantization
# scales across the corpus — then decoded through the shared
# decode_batch kernel. JPEG is LOSSY, so there is no SQL twin that
# recomputes the mean from the text; but decode is DETERMINISTIC, so
# the aggregate is frozen as a golden-VALUES oracle per corpus (the k01
# recipe: generated from engine + hostile vanilla sessions at all sfs,
# branch keyed on the documents count). tests/test_multimodal.py
# additionally pins the decoder bit-for-bit (+-1 LSB) against an
# independent from-first-principles naive decoder.
def encode_jpeg_batch(df: DataFrame, w: int = 16, h: int = 16) -> DataFrame:
    """mapInPandas JPEG encoder: payload bytes -> w*h grayscale baseline
    JPEG (truncate/zero-pad), quality = 50 + 10 * (doc_id % 5)."""
    import numpy as np

    n = w * h
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)[:n].ljust(n, b"\x00")
                pix = np.frombuffer(b, dtype=np.uint8).reshape(h, w)
                rows.append(
                    (doc_id, encode_jpeg(pix, 50 + 10 * (int(doc_id) % 5)))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return df.select("doc_id", "payload").mapInPandas(fn, schema)


def m07_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    jpgs = encode_jpeg_batch(with_binary_payload(d))
    dec = decode_batch(jpgs)
    return (
        dec.groupBy(
            F.pmod(F.col("doc_id"), F.lit(5)).cast("int").alias("q_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_imgs"),
            # per-image mean is (exact int64 pixel sum / 256) / 255 in
            # float64 — deterministic; floor-truncate at 1e-6 BEFORE the
            # sum so the aggregate is integer-exact
            F.sum(F.floor(F.col("mean_intensity") * 1000000.0))
            .cast("bigint")
            .alias("sum_intensity_t"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("height").cast("bigint").alias("sum_height"),
        )
    )


# Golden rows generated by scripts/gen_m07_golden.py (engine session +
# hostile vanilla America/New_York local[4] session at sf0.001/0.01/0.1
# — all agree; sf0.001 and sf0.01 share one documents table of 500
# rows). Regenerate with that script if the payload recipe, quality
# ladder, or any codec rounding choice changes.
M07_SQL = """
WITH fp AS (
  SELECT count(*) AS c, sum(octet_length(encode(text))) AS nb FROM documents
)
SELECT CAST(q_bucket AS INT) AS q_bucket,
       CAST(n_imgs AS BIGINT) AS n_imgs,
       CAST(sum_intensity_t AS BIGINT) AS sum_intensity_t,
       CAST(sum_width AS BIGINT) AS sum_width,
       CAST(sum_height AS BIGINT) AS sum_height
FROM (
  SELECT * FROM (VALUES
    (0, 100, 31152954, 1600, 1600),
    (1, 100, 32168335, 1600, 1600),
    (2, 100, 29983855, 1600, 1600),
    (3, 100, 31674994, 1600, 1600),
    (4, 100, 32068327, 1600, 1600)
  ) v(q_bucket, n_imgs, sum_intensity_t, sum_width, sum_height)
  WHERE (SELECT c FROM fp) = 500 AND (SELECT nb FROM fp) = 153156
  UNION ALL
  SELECT * FROM (VALUES
    (0, 100, 31302890, 1600, 1600),
    (1, 100, 31731475, 1600, 1600),
    (2, 100, 32090947, 1600, 1600),
    (3, 100, 31070753, 1600, 1600),
    (4, 100, 30301701, 1600, 1600)
  ) v(q_bucket, n_imgs, sum_intensity_t, sum_width, sum_height)
  WHERE (SELECT c FROM fp) = 500 AND (SELECT nb FROM fp) = 149174
  UNION ALL
  SELECT * FROM (VALUES
    (0, 1000, 310446719, 16000, 16000),
    (1, 1000, 310891330, 16000, 16000),
    (2, 1000, 310619740, 16000, 16000),
    (3, 1000, 314279535, 16000, 16000),
    (4, 1000, 305607057, 16000, 16000)
  ) v(q_bucket, n_imgs, sum_intensity_t, sum_width, sum_height)
  WHERE (SELECT c FROM fp) = 5000 AND (SELECT nb FROM fp) = 1485576
)
"""


# --------------------------------------------------------------------------
# m09 — PROGRESSIVE JPEG decode parity (round 10; functions/jpeg.py
# §G machinery): each document's first 768 utf-8 bytes become a
# 16x16 RGB image, encoded BOTH baseline and progressive (4:2:0, the
# web-crawl layout — chroma non-interleaved AC scans, spectral bands,
# successive approximation, EOB runs) at the m07 quality ladder, and
# both streams decode inside one Arrow kernel. The two modes quantize
# IDENTICAL coefficients, so decoded pixels must match bit-for-bit on
# every document — the aggregate (n_images, all_equal) has a literal
# oracle, no goldens needed.
def m09_progressive_jpeg_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.jpeg import encode_jpeg_progressive

    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("equal", T.IntegerType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        n = 16 * 16 * 3
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)[:n].ljust(n, b"\x00")
                img = np.frombuffer(b, dtype=np.uint8).reshape(16, 16, 3)
                q = 50 + 10 * (int(doc_id) % 5)
                base = decode_jpeg(encode_jpeg(img, q, subsampling="420"))
                prog = decode_jpeg(
                    encode_jpeg_progressive(img, q, subsampling="420")
                )
                ok = base[:3] == prog[:3] and np.array_equal(base[3], prog[3])
                rows.append((doc_id, int(ok)))
            yield pd.DataFrame(rows, columns=["doc_id", "equal"])

    dec = d.select("doc_id", "payload").mapInPandas(fn, schema)
    return dec.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_images"),
        F.min("equal").cast("bigint").alias("all_equal"),
    )


M09_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_images,
       CAST(1 AS BIGINT) AS all_equal
FROM documents
"""


# --------------------------------------------------------------------------
# m08 — REAL MJPEG-in-AVI decode (round 9: functions/avi.py routes
# 'MJPG' frames through functions/jpeg.py — the last in-sandbox-closable
# codec fake). Each document's first 384 utf-8 bytes (zero-padded)
# become two 8x8 RGB frames, encoded as a motion-JPEG AVI at quality
# 50 + 10*(doc_id % 5) with the chroma layout alternating 4:4:4 /
# 4:2:0 by doc parity (both MCU shapes exercised corpus-wide), then
# decoded back through the container walker + JPEG kernel. Lossy but
# DETERMINISTIC, so the aggregate freezes as a golden-VALUES oracle per
# corpus (m07's recipe); tests additionally pin the container frames
# against the independent naive JPEG decoder.
_M08_W, _M08_H, _M08_NF = 8, 8, 2
_M08_FRAME_BYTES = _M08_W * _M08_H * 3  # 192


def encode_mjpeg_batch(df: DataFrame) -> DataFrame:
    """mapInPandas MJPEG-AVI encoder: payload bytes -> 2-frame 8x8 RGB
    video, quality 50 + 10*(doc_id % 5), subsampling 444/420 by doc
    parity."""
    import numpy as np

    from ..functions.avi import encode_avi_mjpeg

    total = _M08_NF * _M08_FRAME_BYTES
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)[:total].ljust(total, b"\x00")
                frames = np.frombuffer(raw, dtype=np.uint8).reshape(
                    _M08_NF, _M08_H, _M08_W, 3
                )
                rows.append(
                    (
                        doc_id,
                        encode_avi_mjpeg(
                            frames,
                            fps=10,
                            quality=50 + 10 * (int(doc_id) % 5),
                            subsampling="444" if int(doc_id) % 2 == 0 else "420",
                        ),
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return df.select("doc_id", "payload").mapInPandas(fn, schema)


def m08_mjpeg_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = load_table(spark, sf_dir, "documents")
    avis = encode_mjpeg_batch(with_binary_payload(d))

    stats_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_t", T.DoubleType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, n, frames = decode_avi_rgb(bytes(payload))
                for i in range(n):
                    s = int(frames[i].sum(dtype=np.int64))
                    mean = (float(s) / _M08_FRAME_BYTES) / 255.0
                    rows.append((doc_id, i, w, h, math.floor(mean * 1e6) / 1e6))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height", "mean_t"],
            )

    dec = avis.mapInPandas(fn, stats_schema)
    return (
        dec.groupBy(
            F.pmod(F.col("doc_id"), F.lit(5)).cast("int").alias("q_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.sum(F.floor(F.col("mean_t") * 1000000.0))
            .cast("bigint")
            .alias("sum_intensity_t"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("height").cast("bigint").alias("sum_height"),
        )
    )


# Golden rows generated by scripts/gen_m08_golden.py (engine + hostile
# vanilla sessions at sf0.001/0.01/0.1 must agree — the m07/k01
# protocol). Regenerate if the payload recipe, quality/subsampling
# ladder, or any jpeg.py/avi.py rounding choice changes.
M08_SQL = """
WITH fp AS (
  SELECT count(*) AS c, sum(octet_length(encode(text))) AS nb FROM documents
)
SELECT CAST(q_bucket AS INT) AS q_bucket,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(sum_intensity_t AS BIGINT) AS sum_intensity_t,
       CAST(sum_width AS BIGINT) AS sum_width,
       CAST(sum_height AS BIGINT) AS sum_height
FROM (
  SELECT * FROM (VALUES
    (0, 200, 53188189, 1600, 1600),
    (1, 200, 55613002, 1600, 1600),
    (2, 200, 51578725, 1600, 1600),
    (3, 200, 54856136, 1600, 1600),
    (4, 200, 55143596, 1600, 1600)
  ) v(q_bucket, n_frames, sum_intensity_t, sum_width, sum_height)
  WHERE (SELECT c FROM fp) = 500 AND (SELECT nb FROM fp) = 153156
  UNION ALL
  SELECT * FROM (VALUES
    (0, 200, 52808813, 1600, 1600),
    (1, 200, 55684983, 1600, 1600),
    (2, 200, 54728554, 1600, 1600),
    (3, 200, 52926613, 1600, 1600),
    (4, 200, 50704551, 1600, 1600)
  ) v(q_bucket, n_frames, sum_intensity_t, sum_width, sum_height)
  WHERE (SELECT c FROM fp) = 500 AND (SELECT nb FROM fp) = 149174
  UNION ALL
  SELECT * FROM (VALUES
    (0, 2000, 529701519, 16000, 16000),
    (1, 2000, 527641581, 16000, 16000),
    (2, 2000, 531990158, 16000, 16000),
    (3, 2000, 540362196, 16000, 16000),
    (4, 2000, 515669535, 16000, 16000)
  ) v(q_bucket, n_frames, sum_intensity_t, sum_width, sum_height)
  WHERE (SELECT c FROM fp) = 5000 AND (SELECT nb FROM fp) = 1485576
)
"""
