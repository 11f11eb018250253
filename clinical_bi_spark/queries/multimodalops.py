"""Multimodal-column queries through the driver contract.

The driver fixtures carry no binary media, so the media column is
synthesized deterministically (text → utf-8 bytes) — which makes the
Arrow-batched mapInPandas metadata extractor *oracle-checkable*: byte size
and md5 of the utf-8 bytes are computable in DuckDB SQL. The feature
extractor's decode step is a stub per the environment contract
(operators/multimodal.py) and stays rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_bi_spark.operators.multimodal import (
    attach_media_metadata,
    extract_media_features,
    resize_media,
)
from clinical_bi_spark.queries import query
from clinical_bi_spark.session import tune
from clinical_bi_spark.sources import load_tables

_META_ORACLE = """
SELECT
  doc_id AS asset_id,
  CASE WHEN length(text) = 0 THEN 'empty'
       ELSE 'application/octet-stream' END AS media_type,
  CAST(octet_length(encode(text)) AS INT) AS byte_size,
  CAST(NULL AS INT) AS width,
  CAST(NULL AS INT) AS height,
  md5(text) AS content_md5
FROM documents
"""


@query("multimodal_metadata", oracle=_META_ORACLE)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata extraction (type sniff, byte size, header
    dims, content fingerprint) over Arrow-batched mapInPandas — the
    real media plumbing, driven by synthesized bytes and pinned by a
    byte-level SQL oracle (md5/octet_length agree across engines)."""
    t = load_tables(tune(spark), sf_dir)
    media = t.documents.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "UTF-8").alias("media"),
    )
    return attach_media_metadata(media)


_FEATURES_ORACLE = """
SELECT doc_id AS asset_id,
  array_to_string(list_transform(range(0, 16), j -> printf('%.6f',
      ((('0x' || substr(md5(md5(text) || '|' || j), 1, 8))::UBIGINT)::BIGINT
       % 2000001 - 1000000) / 1000000.0)), ',') AS feature_csv
FROM documents
"""


@query("multimodal_features", oracle=_FEATURES_ORACLE)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→embed plumbing with the deterministic fake decoder (the
    container has no imaging libs — the stub contract). The fake feature
    is engine-portable md5 arithmetic (operators/multimodal._fake_feature),
    so the mapInPandas path is hash-checked against an exact SQL oracle;
    tests additionally pin determinism and batch shape."""
    t = load_tables(tune(spark), sf_dir)
    media = t.documents.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "UTF-8").alias("media"),
    )
    feats = extract_media_features(media, dim=16)
    # Driver contract: no raw array<float> through the boundary (the
    # driver's canonicalizer can't hash numpy arrays) — ship the vector as
    # a fixed-precision CSV string; the operator keeps the array API.
    feat_csv = F.concat_ws(
        ",", F.transform("feature", lambda x: F.format_string("%.6f", x))
    )
    return feats.select("asset_id", feat_csv.alias("feature_csv"))


#: BYTE semantics, not characters: the media column is encode(text) and
#: the codec slices bytes, so the oracle must too. DuckDB cannot slice a
#: BLOB or md5 one (md5 is VARCHAR-only), so both engines fingerprint the
#: frame's HEX instead — hex is pure ASCII (Spark and DuckDB both emit
#: uppercase), making md5(VARCHAR) byte-faithful. The unicode sweep
#: caught the old character-sliced oracle diverging (333 vs 299 frames)
#: the moment text stopped being ASCII — chars == bytes only there.
_FRAME_ORACLE = """
SELECT doc_id AS asset_id,
       CAST(i AS INT) AS frame_index,
       md5(substring(hex(encode(text)), CAST(i * 512 + 1 AS INT), 512))
         AS frame_md5
FROM documents,
     UNNEST(range(0, octet_length(encode(text)) // 256, 2)) AS t(i)
"""


# ---------------------------------------------------------------------------
# Real-codec resize: each document synthesizes a deterministic 16×16 binary
# PPM (P6) — pixel (x, y, c) = (doc_id·7 + y·31 + x·5 + c·11) mod 256 — and
# the operator REALLY decodes it (header tokenizer), nearest-neighbor
# resamples to 8×8 (source pixel (2x, 2y)), and re-encodes. The oracle
# rebuilds the expected output bytes hex-for-hex from the same formula, so
# the decode→resample→encode chain is byte-exact checked, not just shaped.
# ---------------------------------------------------------------------------

_PPM_HEADER = b"P6\n16 16\n255\n"
_DST_HEADER_HEX = "P6\n8 8\n255\n".encode().hex()


def _rgb_base():
    """(16, 16, 3) int64 base y·31 + x·5 + c·11 of the formula images:
    pixel (x, y, c) of document d is (d·7 + base) mod 256."""
    import numpy as np

    y, x, c = np.meshgrid(
        np.arange(16), np.arange(16), np.arange(3), indexing="ij"
    )
    return y * 31 + x * 5 + c * 11


def _rgb_pixels(doc_ids):
    """(n, 16, 16, 3) uint8 formula pixels, one image per doc_id. uint8
    addition wraps, which is the formula's mod 256, and keeps a batch's
    temporaries at one byte per pixel."""
    offset = (doc_ids * 7).astype("uint8")[:, None, None, None]
    return offset + _rgb_base().astype("uint8")


def _ppm_media(doc_ids) -> list[bytes]:
    return [_PPM_HEADER + img.tobytes() for img in _rgb_pixels(doc_ids)]


def _formula_media(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """``asset_id, media`` for every document, built in one numpy
    mapInPandas step: ``build`` maps an int64 array of doc_ids to one
    media bytes per id. Building before the round-robin spread keeps the
    scan's single task cheap (no per-byte Catalyst lambda, which Spark
    interprets element by element) and lets every consumer of the result
    share one exchange. Defined for 0 <= doc_id < 2**58: the builders
    reduce mod 256 or 65536 by floored (two's-complement) wrap-around
    where Spark's and DuckDB's ``%`` truncate, so a negative id would get
    other bytes than the oracles expect, and past 2**58 the int64
    products of the formulas overflow."""
    t = load_tables(tune(spark), sf_dir)

    def synth(it):
        import pandas as pd

        for pdf in it:
            ids = pdf["doc_id"].to_numpy(dtype="int64")
            yield pd.DataFrame({"asset_id": ids, "media": build(ids)})

    media = t.documents.select("doc_id").mapInPandas(
        synth, schema="asset_id long, media binary"
    )
    return media.repartition(spark.sparkContext.defaultParallelism)


_RESIZE_ORACLE = f"""
SELECT doc_id AS asset_id,
  'image/x-portable-pixmap' AS media_type,
  CAST(16 AS INT) AS orig_width,
  CAST(16 AS INT) AS orig_height,
  CAST(11 + 192 AS INT) AS resized_bytes,
  '{_DST_HEADER_HEX}' || array_to_string(list_transform(range(0, 192),
      i -> printf('%02x',
                  (doc_id * 7 + ((i // 24) * 2) * 31
                   + (((i % 24) // 3) * 2) * 5 + (i % 3) * 11) % 256)), '')
    AS resized_hex
FROM documents
"""


def _resize_with_metadata(media: DataFrame) -> DataFrame:
    """Metadata of ``media`` joined to its 16×16 → 8×8 resize, as hex."""
    meta = attach_media_metadata(media)
    resized = resize_media(media, target_width=8, target_height=8)
    return meta.join(resized, "asset_id").select(
        "asset_id",
        "media_type",
        F.col("width").alias("orig_width"),
        F.col("height").alias("orig_height"),
        "resized_bytes",
        F.lower(F.hex("resized")).alias("resized_hex"),
    )


@query("multimodal_resize", oracle=_RESIZE_ORACLE, bench=True)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize through the REAL codec branch: synthesized binary PPMs
    are decoded (pure-Python netpbm header parse + numpy pixel view),
    nearest-neighbor resampled 16×16 → 8×8, and re-encoded inside
    Arrow-batched mapInPandas. Width/height come from the container
    sniffer/header parser, and the output bytes are compared hex-exact —
    the one end-to-end non-stub codec path this container permits."""
    return _resize_with_metadata(_formula_media(spark, sf_dir, _ppm_media))


@query("multimodal_frame_sample", oracle=_FRAME_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the fake codec (256-byte frames, every 2nd
    sampled): the mapInPandas fan-out emits one row per sampled frame —
    the generator shape a real video pipeline needs — and the byte-level
    md5 oracle pins the slicing exactly. Frames ship as md5, not raw
    bytes (contract hygiene)."""
    from clinical_bi_spark.operators.multimodal import sample_video_frames

    t = load_tables(tune(spark), sf_dir)
    media = t.documents.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "UTF-8").alias("media"),
    )
    frames = sample_video_frames(media, every_n=2, frame_bytes=256)
    # md5 of the frame's HEX (not raw bytes): DuckDB's md5 only hashes
    # VARCHAR, so the engine-portable fingerprint is over the ASCII hex
    # of the frame bytes — byte-faithful for any input encoding
    return frames.select(
        "asset_id",
        "frame_index",
        F.md5(F.hex(F.col("frame"))).alias("frame_md5"),
    )


# ---------------------------------------------------------------------------
# BMP resize — the second REAL codec branch (operators/multimodal:
# decode_bmp/encode_bmp). Same pixel formula as the PPM query, but the
# container layout is genuinely different: little-endian binary headers,
# BOTTOM-UP row order, BGR channel order, 4-byte row padding (16·3 = 48
# and 8·3 = 24 are already multiples of 4, so padding is zero here — the
# codec unit tests cover odd widths). The oracle rebuilds the resized
# file hex-for-hex, headers included.
# ---------------------------------------------------------------------------

import struct as _struct


def _bmp_header(w: int, h: int) -> bytes:
    row = (w * 3 + 3) & ~3
    return (
        b"BM"
        + _struct.pack("<IHHI", 54 + row * h, 0, 0, 54)
        + _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row * h, 0, 0, 0, 0)
    )


_BMP_SRC_HEADER = _bmp_header(16, 16)
_BMP_DST_HEADER_HEX = _bmp_header(8, 8).hex()


def _bmp_media(doc_ids) -> list[bytes]:
    # bottom-up rows in BGR order; a 48-byte row needs no padding
    return [
        _BMP_SRC_HEADER + img[::-1, :, ::-1].tobytes()
        for img in _rgb_pixels(doc_ids)
    ]


# dst pixel byte j of 192: row r = j//24 (bottom-up ⇒ image y = 7-r),
# x = (j%24)//3, channel b = j%3 (BGR ⇒ rgb c = 2-b); source pixel is
# (2x, 2y); value = (doc_id·7 + y_src·31 + x_src·5 + c·11) mod 256 —
# identical pixel formula to the PPM query, different byte layout.
_RESIZE_BMP_ORACLE = f"""
SELECT doc_id AS asset_id,
  'image/bmp' AS media_type,
  CAST(16 AS INT) AS orig_width,
  CAST(16 AS INT) AS orig_height,
  CAST(54 + 192 AS INT) AS resized_bytes,
  '{_BMP_DST_HEADER_HEX}' || array_to_string(list_transform(range(0, 192),
      j -> printf('%02x',
                  (doc_id * 7 + ((7 - j // 24) * 2) * 31
                   + (((j % 24) // 3) * 2) * 5 + (2 - j % 3) * 11) % 256)), '')
    AS resized_hex
FROM documents
"""


@query("multimodal_resize_bmp", oracle=_RESIZE_BMP_ORACLE)
def multimodal_resize_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize through the REAL BMP codec branch: synthesized 24-bit
    BMPs are decoded (little-endian header parse, row un-padding,
    bottom-up flip, BGR swap), nearest-neighbor resampled 16×16 → 8×8,
    and re-encoded inside Arrow-batched mapInPandas. Output compared
    hex-exact against a DuckDB reconstruction of the full file bytes —
    headers, row order, and channel order included."""
    return _resize_with_metadata(_formula_media(spark, sf_dir, _bmp_media))


# ---------------------------------------------------------------------------
# WAV audio features — the third REAL codec branch: each document
# synthesizes a deterministic mono 48 kHz PCM16 WAV (sample i =
# ((doc_id·31 + i·7) mod 65536) − 32768, 480 samples), the operator
# REALLY parses the RIFF chunks and decodes the samples, and duration /
# peak / RMS are checked against a DuckDB reconstruction from the same
# formula — integer-exact except RMS, which is one IEEE sqrt over an
# exact integer sum of squares (identical doubles both engines).
# ---------------------------------------------------------------------------

_WAV_N = 480
_WAV_RATE = 48000

_WAV_HEADER = (
    b"RIFF"
    + _struct.pack("<I", 36 + _WAV_N * 2)
    + b"WAVEfmt "
    + _struct.pack("<IHHIIHH", 16, 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)
    + b"data"
    + _struct.pack("<I", _WAV_N * 2)
)


def _wav_media(doc_ids) -> list[bytes]:
    import numpy as np

    # sample s = v - 32768 where v = (doc_id·31 + i·7) mod 65536; its
    # two's-complement uint16 image is (v + 32768) mod 65536, stored
    # little-endian
    start = (doc_ids * 31 + 32768).astype("uint16")
    step = (np.arange(_WAV_N) * 7).astype("uint16")
    u = start[:, None] + step  # uint16 addition wraps: the mod 65536
    return [_WAV_HEADER + row.tobytes() for row in u.astype("<u2")]


_WAV_SAMPLE_SQL = f"(((doc_id * 31 + i * 7) % 65536) - 32768)"

_AUDIO_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
         MAX(ABS({_WAV_SAMPLE_SQL})) AS peak_abs,
         SUM(CAST({_WAV_SAMPLE_SQL} AS BIGINT)
             * CAST({_WAV_SAMPLE_SQL} AS BIGINT)) AS ss
  FROM documents, UNNEST(range(0, {_WAV_N})) AS t(i)
  GROUP BY doc_id
)
SELECT doc_id AS asset_id,
       CAST({_WAV_RATE} AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST({_WAV_N} AS BIGINT) AS n_samples,
       CAST({_WAV_N} AS DOUBLE) * 1000.0 / {_WAV_RATE} AS duration_ms,
       CAST(peak_abs AS INT) AS peak_abs,
       ROUND(SQRT(CAST(ss AS DOUBLE) / {_WAV_N}), 6) AS rms
FROM s
"""


@query("multimodal_audio_features", oracle=_AUDIO_ORACLE, bench=True)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction through the REAL WAV codec: synthesized
    PCM16 WAV bytes are chunk-walked (RIFF → fmt → data), decoded to
    int16 samples, and reduced to duration / peak / RMS inside
    Arrow-batched mapInPandas — checked sample-exact against a DuckDB
    reconstruction from the sample formula."""
    from clinical_bi_spark.operators.multimodal import extract_audio_features

    feats = extract_audio_features(_formula_media(spark, sf_dir, _wav_media))
    return feats.select(
        "asset_id", "sample_rate", "n_channels", "n_samples",
        "duration_ms", "peak_abs", F.round("rms", 6).alias("rms"),
    )


_PNG_RESIZE_ORACLE = """
SELECT doc_id AS asset_id,
  'image/png' AS media_type,
  CAST(16 AS INT) AS orig_width,
  CAST(16 AS INT) AS orig_height,
  CAST(8 AS INT) AS resized_width,
  CAST(8 AS INT) AS resized_height,
  array_to_string(list_transform(range(0, 192),
      i -> printf('%02x',
                  (doc_id * 7 + ((i // 24) * 2) * 31
                   + (((i % 24) // 3) * 2) * 5 + (i % 3) * 11) % 256)), '')
    AS resized_pixel_hex
FROM documents
"""


@query("multimodal_resize_png", oracle=_PNG_RESIZE_ORACLE)
def multimodal_resize_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize through the REAL COMPRESSED codec: each document
    synthesizes a deterministic 16×16 RGB image (same pixel formula as
    multimodal_resize), encodes it as a real PNG — stdlib-zlib deflate
    with row filters cycling Sub/Up/Average/Paeth — then the operator
    sniffs the container, parses IHDR, REALLY decodes (inflate + inverse
    filtering of all five filter types), nearest-neighbor resamples
    16×16 → 8×8, re-encodes to PNG, and the query decodes THAT again to
    raw pixels. The oracle pins the decoded resized pixels hex-exact
    against the formula at stride 2 — the compressed file bytes
    themselves are not SQL-reconstructable (zlib), which is exactly why
    the contract is pixel-level; encode↔decode byte behavior is
    hypothesis-property-tested (tests/test_multimodal.py).

    100 TB: identical Arrow mapInPandas plumbing as the PPM/BMP paths
    (byte-budget partitioning, batched codec work); PNG adds the
    real-world property that media bytes are compressed at rest."""
    from clinical_bi_spark.operators.multimodal import decode_png, encode_png

    t = load_tables(tune(spark), sf_dir)
    docs = t.documents.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(it):
        import numpy as np
        import pandas as pd

        base = _rgb_base()
        for pdf in it:
            media = [
                encode_png(((int(d) * 7 + base) % 256).astype(np.uint8))
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"asset_id": pdf["doc_id"], "media": media})

    media = docs.mapInPandas(synth, schema="asset_id long, media binary")
    meta = attach_media_metadata(media)
    resized = resize_media(media, target_width=8, target_height=8)

    def to_pixels(it):
        import pandas as pd

        for pdf in it:
            arrs = [decode_png(b) for b in pdf["resized"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "resized_width": [a.shape[1] for a in arrs],
                    "resized_height": [a.shape[0] for a in arrs],
                    "resized_pixel_hex": [a.tobytes().hex() for a in arrs],
                }
            )

    pixels = resized.mapInPandas(
        to_pixels,
        schema=(
            "asset_id long, resized_width int, resized_height int, "
            "resized_pixel_hex string"
        ),
    )
    return meta.join(pixels, "asset_id").select(
        "asset_id",
        "media_type",
        F.col("width").alias("orig_width"),
        F.col("height").alias("orig_height"),
        "resized_width",
        "resized_height",
        "resized_pixel_hex",
    )


@query("multimodal_resize_jpeg", oracle=None)
def multimodal_resize_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize through the REAL LOSSY codec: a pure-Python baseline
    JPEG (operators/jpeg.py — DCT, quality-90 quantization, differential
    DC + run-length AC Huffman, byte stuffing; the decoder rebuilds its
    tables from the file's own DQT/DHT). Each doc synthesizes the same
    16×16 formula pixels as the PNG/PPM queries, encodes them as a real
    JPEG, and the operator sniffs → decodes → resamples 16×16 → 8×8 →
    re-encodes; the query then decodes the resized JPEG and reports the
    per-asset error against the formula-at-stride-2 reference pixels.

    Rows-only BY CONSTRUCTION (the designated-check contract of the
    approximate ops): lossy quantization makes byte- or pixel-exact
    oracles impossible in principle — the checks are the output's own
    error columns (pinned ≤ bounds in tests/test_multimodal.py), the
    hypothesis roundtrip bounds, and the flat-block-exactness invariant
    on the codec itself."""
    from clinical_bi_spark.operators.jpeg import decode_jpeg, encode_jpeg

    t = load_tables(tune(spark), sf_dir)
    docs = t.documents.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(it):
        import numpy as np
        import pandas as pd

        base = _rgb_base()
        for pdf in it:
            media = [
                encode_jpeg(((int(d) * 7 + base) % 256).astype(np.uint8))
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"asset_id": pdf["doc_id"], "media": media})

    media = docs.mapInPandas(synth, schema="asset_id long, media binary")
    meta = attach_media_metadata(media)
    resized = resize_media(media, target_width=8, target_height=8)

    def err_stats(it):
        import numpy as np
        import pandas as pd

        base = _rgb_base()[::2, ::2]  # the formula at stride 2
        for pdf in it:
            rows = []
            for aid, b in zip(pdf["asset_id"], pdf["resized"]):
                got = decode_jpeg(b).astype(np.int64)
                want = (int(aid) * 7 + base) % 256
                err = np.abs(got - want)
                rows.append(
                    (
                        int(aid),
                        got.shape[1],
                        got.shape[0],
                        float(err.mean()),
                        int(err.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "resized_width",
                    "resized_height",
                    "mean_abs_err",
                    "max_abs_err",
                ],
            )

    stats = resized.mapInPandas(
        err_stats,
        schema=(
            "asset_id long, resized_width int, resized_height int, "
            "mean_abs_err double, max_abs_err int"
        ),
    )
    return meta.join(stats, "asset_id").select(
        "asset_id",
        "media_type",
        F.col("width").alias("orig_width"),
        F.col("height").alias("orig_height"),
        "resized_width",
        "resized_height",
        F.round("mean_abs_err", 4).alias("mean_abs_err"),
        "max_abs_err",
    )


@query("multimodal_video_mjpeg_frames", oracle=None)
def multimodal_video_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through a REAL container + REAL codec: each
    document synthesizes a 6-frame 16×16 Motion-JPEG AVI (RIFF hdrl/movi
    with one '00dc' JPEG per frame — operators/multimodal.encode_avi_mjpeg
    over operators/jpeg.py), and sample_video_frames takes the REAL AVI
    path: RIFF 'movi' chunk walk, every 2nd frame emitted as its JPEG
    bytes and decoded back to pixels, one output row per sampled frame
    (the fan-out generator shape). Error columns compare decoded pixels
    to the per-frame synthesis formula.

    Rows-only BY CONSTRUCTION (MJPEG frames are lossy); designated
    checks: the pytest bounds (tests/test_multimodal.py — frame count,
    sampled indices, dims, error ceilings) plus the container/codec
    roundtrip invariants. General mp4/h264 remains the declared stub —
    that truly needs ffmpeg."""
    from clinical_bi_spark.operators.jpeg import decode_jpeg
    from clinical_bi_spark.operators.multimodal import (
        encode_avi_mjpeg,
        sample_video_frames,
    )

    t = load_tables(tune(spark), sf_dir)
    docs = t.documents.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(it):
        import numpy as np
        import pandas as pd

        base = _rgb_base()
        for pdf in it:
            media = []
            for d in pdf["doc_id"]:
                frames = [
                    ((int(d) * 7 + k * 17 + base) % 256).astype(np.uint8)
                    for k in range(6)
                ]
                media.append(encode_avi_mjpeg(frames, fps=5))
            yield pd.DataFrame({"asset_id": pdf["doc_id"], "media": media})

    media = docs.mapInPandas(synth, schema="asset_id long, media binary")
    sampled = sample_video_frames(media, every_n=2)

    def err_stats(it):
        import numpy as np
        import pandas as pd

        base = _rgb_base()
        for pdf in it:
            rows = []
            for aid, idx, fr in zip(
                pdf["asset_id"], pdf["frame_index"], pdf["frame"]
            ):
                got = decode_jpeg(bytes(fr)).astype(np.int64)
                want = (int(aid) * 7 + int(idx) * 17 + base) % 256
                err = np.abs(got - want)
                rows.append(
                    (
                        int(aid),
                        int(idx),
                        got.shape[1],
                        got.shape[0],
                        float(err.mean()),
                        int(err.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "frame_index", "frame_width",
                    "frame_height", "mean_abs_err", "max_abs_err",
                ],
            )

    return sampled.mapInPandas(
        err_stats,
        schema=(
            "asset_id long, frame_index int, frame_width int, "
            "frame_height int, mean_abs_err double, max_abs_err int"
        ),
    ).withColumn("mean_abs_err", F.round("mean_abs_err", 4))


_GIF_RESIZE_ORACLE = """
SELECT doc_id AS asset_id,
  'image/gif' AS media_type,
  CAST(16 AS INT) AS orig_width,
  CAST(16 AS INT) AS orig_height,
  CAST(8 AS INT) AS resized_width,
  CAST(8 AS INT) AS resized_height,
  array_to_string(list_transform(range(0, 192),
      i -> printf('%02x',
                  (doc_id * 7 + (((i // 3) // 8) * 2) * 31
                   + (((i // 3) % 8) * 2) * 5) % 256)), '')
    AS resized_pixel_hex
FROM documents
"""


@query("multimodal_resize_gif", oracle=_GIF_RESIZE_ORACLE)
def multimodal_resize_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media resize through the REAL LZW codec: each document synthesizes
    a 16×16 GRAYSCALE image (value = (doc_id·7 + y·31 + x·5) mod 256),
    encodes it as a real GIF87a (256-entry identity palette, LZW-packed
    pixel stream — operators/gif.py), and the operator sniffs → LZW
    decodes → resamples 16×16 → 8×8 → re-encodes; the query decodes the
    resized GIF back to RGB pixels. GIF is LOSSLESS under the palette
    contract, so unlike JPEG this compressed format gets a FULL exact
    oracle: the decoded resized pixels (each gray value tripled across
    RGB) are reconstructed hex-for-hex from the formula at stride 2.
    The LZW decoder's dictionary/width paths are differentially tested
    against an independent real compressor (tests/test_multimodal.py)."""
    from clinical_bi_spark.operators.gif import decode_gif, encode_gif_gray

    t = load_tables(tune(spark), sf_dir)
    docs = t.documents.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(it):
        import numpy as np
        import pandas as pd

        base = _rgb_base()[:, :, 0]  # y·31 + x·5
        for pdf in it:
            media = [
                encode_gif_gray(((int(d) * 7 + base) % 256).astype(np.uint8))
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"asset_id": pdf["doc_id"], "media": media})

    media = docs.mapInPandas(synth, schema="asset_id long, media binary")
    meta = attach_media_metadata(media)
    resized = resize_media(media, target_width=8, target_height=8)

    def to_pixels(it):
        import pandas as pd

        for pdf in it:
            arrs = [decode_gif(bytes(b)) for b in pdf["resized"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "resized_width": [a.shape[1] for a in arrs],
                    "resized_height": [a.shape[0] for a in arrs],
                    "resized_pixel_hex": [a.tobytes().hex() for a in arrs],
                }
            )

    pixels = resized.mapInPandas(
        to_pixels,
        schema=(
            "asset_id long, resized_width int, resized_height int, "
            "resized_pixel_hex string"
        ),
    )
    return meta.join(pixels, "asset_id").select(
        "asset_id",
        "media_type",
        F.col("width").alias("orig_width"),
        F.col("height").alias("orig_height"),
        "resized_width",
        "resized_height",
        "resized_pixel_hex",
    )


# ---------------------------------------------------------------------------
# MP4 sample-table walk + keyframe extraction.
#
# Why this is the right multimodal step (general mp4 is the one format a
# video-corpus user asks for first):
# it narrows the declared h264 stub to its true minimum. Everything a
# training-data pipeline needs from an mp4 SHORT of entropy-decoding the
# codec bitstream is now REAL: operators/mp4.py writes a structurally
# valid ftyp+mdat+moov container with the full sample table
# (stsd/stts/stss/stsz/stsc/stco, per ISO/IEC 14496-12) and the parser
# walks the tree back, RECONSTRUCTING per-sample DTS / duration / size /
# sync flag / absolute byte offset via the stsc→stco expansion — the
# inverse computation, not a replay of the writer's arithmetic. The query
# synthesizes one deterministic mp4 per document (sample k of n =
# 5 + doc_id % 6: payload = first `size` chars of md5-chain ASCII, size =
# 16 + (doc_id·7 + k·13) % 48, duration = 1000 + (k % 3)·250 ticks,
# sync ⇔ k = 1 ∨ (doc_id + k) % 3 = 0, 3 samples per chunk so the stsc
# run map gets a genuine short last chunk), then extracts every 2nd SYNC
# sample's payload by reconstructed byte range. The oracle recomputes the
# expected index CLOSED-FORM (dts via the run-sum identity, byte_offset
# via a window sum over the size formula anchored at the constant 36-byte
# mdat payload base) and the payload md5 from the same md5-chain — so a
# green row proves writer AND parser exact down to the byte, through two
# genuinely different computations. Scale shape: per-asset independent
# mapInPandas (Arrow-batched), no shuffle before the final projection;
# payloads leave the operator as md5 fingerprints (contract hygiene —
# same rule as the AVI/MJPEG path). MJPEG-in-MP4 is fully real end to
# end — tests/test_mp4.py round-trips an ISO-BMFF file of REAL baseline
# JPEGs through the sample-table walk, byte-range extraction, and
# decode_jpeg within the codec's error bounds — so only the h264
# entropy decode itself remains stubbed, which genuinely needs ffmpeg.
# ---------------------------------------------------------------------------

_MP4_SAMPLES_ORACLE = """
WITH s AS (
  SELECT doc_id,
         CAST(k AS INT) AS k,
         CAST(5 + doc_id % 6 AS INT) AS n,
         CAST(16 + (doc_id * 7 + k * 13) % 48 AS INT) AS size_bytes,
         CAST(1000 + (k % 3) * 250 AS INT) AS duration_ticks,
         (k = 1 OR (doc_id + k) % 3 = 0) AS sync,
         md5('mp4:' || doc_id || ':' || k) AS h1
  FROM documents, UNNEST(range(1, 5 + doc_id % 6 + 1)) AS t(k)
), o AS (
  SELECT *,
         36 + COALESCE(SUM(size_bytes) OVER (
           PARTITION BY doc_id ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS byte_offset,
         1000 * (k - 1) + 250 * (
           3 * ((k - 1) // 3)
           + CASE (k - 1) % 3 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 0 END
         ) AS dts_ticks
  FROM s
), y AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k) AS sync_rank
  FROM o WHERE sync
)
SELECT doc_id AS asset_id,
       k AS sample_number,
       CAST(dts_ticks AS BIGINT) AS dts_ticks,
       duration_ticks,
       size_bytes,
       CAST(byte_offset AS BIGINT) AS byte_offset,
       n AS track_samples,
       md5(substr(h1 || md5(h1), 1, size_bytes)) AS payload_md5
FROM y
WHERE (sync_rank - 1) % 2 = 0
"""


@query("multimodal_video_mp4_samples", oracle=_MP4_SAMPLES_ORACLE, bench=True)
def multimodal_video_mp4_samples(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Every-2nd-keyframe extraction over synthesized mp4 containers —
    see the block comment above for the container spec, the closed-form
    oracle design; operators/mp4.py for
    the ISO-BMFF writer/parser."""
    import hashlib

    from clinical_bi_spark.operators.mp4 import (
        encode_mp4,
        extract_mp4_sync_samples,
    )

    t = load_tables(tune(spark), sf_dir)
    docs = t.documents.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(it):
        import pandas as pd

        for pdf in it:
            assets = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 5 + doc_id % 6
                samples, durs, syncs = [], [], []
                for k in range(1, n + 1):
                    h1 = hashlib.md5(f"mp4:{doc_id}:{k}".encode()).hexdigest()
                    h2 = hashlib.md5(h1.encode()).hexdigest()
                    size = 16 + (doc_id * 7 + k * 13) % 48
                    samples.append((h1 + h2)[:size].encode("ascii"))
                    durs.append(1000 + (k % 3) * 250)
                    syncs.append(k == 1 or (doc_id + k) % 3 == 0)
                assets.append(
                    encode_mp4(samples, durs, syncs, samples_per_chunk=3)
                )
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(pdf["doc_id"], dtype="int64"),
                    "media": assets,
                }
            )

    media = docs.mapInPandas(synth, schema="asset_id long, media binary")
    frames = extract_mp4_sync_samples(media, every_n=2)
    # payloads are ASCII md5-chain characters, so Spark's md5 over the
    # raw bytes equals DuckDB's md5 over the equivalent VARCHAR
    return frames.select(
        "asset_id",
        "sample_number",
        "dts_ticks",
        "duration_ticks",
        "size_bytes",
        "byte_offset",
        "track_samples",
        F.md5(F.col("payload")).alias("payload_md5"),
    )


# ---------------------------------------------------------------------------
# Audio resampling.
#
# The speech-pipeline prep step ("everything to 16 kHz") done for REAL
# and exactly: each document synthesizes the same deterministic 48 kHz
# mono PCM16 WAV as multimodal_audio_features, and the operator
# (operators/multimodal.resample_wav_pcm16) decodes it, maps output
# frame i to input frame (i·48000) div 18000 = (8i) div 3 —
# a deliberately NON-integral ratio so the index arithmetic is
# exercised, zero-order-hold so the result is integer-exact — and
# re-encodes at 18000 Hz. The oracle rebuilds the ENTIRE output file
# hex-for-hex (44-byte canonical header + each mapped sample's
# little-endian two's-complement image), so decode → index-map →
# re-encode is byte-exact adjudicated, the same standard as the
# PPM/BMP resize oracles.
# ---------------------------------------------------------------------------

_RESAMPLE_RATE = 18000
_RESAMPLE_N = _WAV_N * _RESAMPLE_RATE // _WAV_RATE  # 180

_RESAMPLED_HEADER_HEX = (
    b"RIFF"
    + _struct.pack("<I", 36 + _RESAMPLE_N * 2)
    + b"WAVEfmt "
    + _struct.pack(
        "<IHHIIHH", 16, 1, 1, _RESAMPLE_RATE, _RESAMPLE_RATE * 2, 2, 16
    )
    + b"data"
    + _struct.pack("<I", _RESAMPLE_N * 2)
).hex()

_AUDIO_RESAMPLE_ORACLE = f"""
SELECT doc_id AS asset_id,
       CAST({_WAV_RATE} AS INT) AS orig_rate,
       CAST({_RESAMPLE_RATE} AS INT) AS target_rate,
       CAST({_RESAMPLE_N} AS INT) AS n_samples_out,
       '{_RESAMPLED_HEADER_HEX}' || array_to_string(
         list_transform(range(0, {_RESAMPLE_N}), i ->
           printf('%02x%02x',
             CAST((doc_id * 31 + ((i * 8) // 3) * 7 + 32768) % 65536 % 256
               AS INT),
             CAST(((doc_id * 31 + ((i * 8) // 3) * 7 + 32768) % 65536) // 256
               AS INT))), '') AS resampled_hex
FROM documents
"""


@query("multimodal_audio_resample", oracle=_AUDIO_RESAMPLE_ORACLE, bench=True)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48 kHz → 18 kHz zero-order-hold resampling through the REAL WAV
    codec, output file byte-exact against the oracle's closed-form
    reconstruction — see the block comment above for the design."""
    from clinical_bi_spark.operators.multimodal import resample_audio

    media = _formula_media(spark, sf_dir, _wav_media)
    out = resample_audio(media, target_rate=_RESAMPLE_RATE)
    return out.select(
        "asset_id",
        F.lit(_WAV_RATE).alias("orig_rate"),
        F.lit(_RESAMPLE_RATE).alias("target_rate"),
        F.lit(_RESAMPLE_N).alias("n_samples_out"),
        F.lower(F.hex("resampled")).alias("resampled_hex"),
    )


# ---------------------------------------------------------------------------
# ViT-style image patchify (with multimodal_audio_resample above, the
# audio and vision PREP steps of a multimodal training pipeline).
#
# The vision-training analog of frame sampling: decode the REAL 16×16
# PPM (the multimodal_resize synthesis — pixel (x,y,c) =
# (doc_id·7 + y·31 + x·5 + c·11) mod 256), split into the 2×2 grid of
# non-overlapping 8×8 patches, one row per patch with raw RGB bytes and
# the integer pixel sum — exactly the fan-out shape ViT tokenizers
# consume. The oracle rebuilds every patch's 192 bytes hex-for-hex and
# its pixel sum closed-form from the same formula, so decode → slice →
# emit is byte-exact adjudicated. Patches ship as hex of raw bytes (192
# per patch — bounded) with the md5-fingerprint contract available the
# moment patches grow (same rule as frames).
# ---------------------------------------------------------------------------

_PATCHES_ORACLE = """
SELECT doc_id AS asset_id,
       CAST(pr AS INT) AS patch_row,
       CAST(pc AS INT) AS patch_col,
       array_to_string(list_transform(range(0, 192), i ->
         printf('%02x',
           (doc_id * 7 + (pr * 8 + i // 24) * 31
            + (pc * 8 + (i % 24) // 3) * 5 + (i % 3) * 11) % 256)), '')
         AS patch_hex,
       CAST(list_sum(list_transform(range(0, 192), i ->
           (doc_id * 7 + (pr * 8 + i // 24) * 31
            + (pc * 8 + (i % 24) // 3) * 5 + (i % 3) * 11) % 256))
         AS BIGINT) AS pixel_sum
FROM documents,
     UNNEST(range(0, 2)) AS r(pr),
     UNNEST(range(0, 2)) AS c(pc)
"""


@query("multimodal_image_patches", oracle=_PATCHES_ORACLE, bench=True)
def multimodal_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 grid of 8×8 ViT patches through the REAL PPM codec, byte-exact
    against the oracle's closed-form reconstruction — see the block
    comment above for the design."""
    from clinical_bi_spark.operators.multimodal import extract_image_patches

    media = _formula_media(spark, sf_dir, _ppm_media)
    patches = extract_image_patches(media, patch=8)
    return patches.select(
        "asset_id",
        "patch_row",
        "patch_col",
        F.lower(F.hex("patch")).alias("patch_hex"),
        "pixel_sum",
    )
