"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata (extension surface — BASELINE.json north star).

Design for 100 TB of media:

* media stays an opaque BinaryType column in parquet — Spark never
  interprets it until an explicit operator does; column pruning means
  metadata-only queries never read the bytes.
* per-asset operators run as Arrow-batched ``mapInPandas`` — one Python
  process per partition, bytes move once over Arrow, no per-row pickling.
* partitioning: media rows are large, so size partitions by byte budget
  (from parquet file metadata or a prior metadata pass), not row count —
  ``extract_media_features`` leaves that to its caller.

The container has no image/audio libraries; five formats are REAL codecs
anyway — PPM and 24-bit BMP (uncompressed), PNG (stdlib zlib: inflate +
all five row filters both directions), baseline JPEG (operators/jpeg.py:
pure-Python DCT + Huffman, error-bound-checked since lossy-by-design),
and WAV/PCM16. Only general video decode has no codec: non-AVI frame
sampling slices the byte stream as a deterministic stand-in; the
surrounding machinery — magic-byte sniffing, header dimension parsing,
schemas, batching, UDF signatures — is real and tested for every format.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_META_SCHEMA = (
    "asset_id long, media_type string, byte_size int, width int, height int,"
    " content_md5 string"
)


def sniff_media_type(data: bytes | None) -> str:
    """Magic-byte container sniffing (no decoding)."""
    if not data:
        return "empty"
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "image/png"
    if data[:3] == b"\xff\xd8\xff":
        return "image/jpeg"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "image/gif"
    if data[:2] == b"P6" and (len(data) < 3 or data[2:3].isspace()):
        return "image/x-portable-pixmap"
    if data[:2] == b"BM":
        return "image/bmp"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "audio/wav"
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return "video/x-msvideo"
    if data[4:8] == b"ftyp":
        return "video/mp4"
    return "application/octet-stream"


def _parse_avi_dimensions(data: bytes) -> tuple[int | None, int | None]:
    """Width/height from the first video stream's strf BITMAPINFOHEADER,
    located by a REAL RIFF chunk walk (hdrl → strl → strf) — a raw byte
    scan for 'strf' could false-match inside payload bytes."""
    found: list[tuple[int, int]] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end and not found:
            tag = data[pos : pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body = pos + 8
            if tag == b"LIST":
                if data[body : body + 4] in (b"hdrl", b"strl"):
                    walk(body + 4, body + size)
            elif tag == b"strf" and size >= 20:
                width, height = struct.unpack("<ii", data[body + 4 : body + 12])
                found.append((int(width), int(abs(height))))
            pos = body + size + (size % 2)

    walk(12, len(data))
    return found[0] if found else (None, None)


def _parse_mp4_dimensions(data: bytes) -> tuple[int | None, int | None]:
    """Walk the ISO-BMFF box tree (moov → trak → tkhd) for the first
    video track's presentation width/height — container-level metadata
    only; sample decode stays the declared stub (needs ffmpeg)."""
    def walk(pos: int, end: int):
        while pos + 8 <= end:
            (size,) = struct.unpack(">I", data[pos : pos + 4])
            box = data[pos + 4 : pos + 8]
            if size == 1:  # 64-bit largesize
                (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
                body = pos + 16
            else:
                body = pos + 8
            if size < 8:
                return None
            if box in (b"moov", b"trak"):
                found = walk(body, pos + size)
                if found:
                    return found
            elif box == b"tkhd" and pos + size <= len(data):
                version = data[body]
                # width/height are the last two 16.16 fixed-point fields;
                # bytes before them incl. version/flags: v0 = 4+20+8+8+36
                # = 76, v1 (64-bit times) = 4+32+8+8+36 = 88
                off = body + (88 if version == 1 else 76)
                w, h = struct.unpack(">II", data[off : off + 8])
                if w and h:
                    return w >> 16, h >> 16
            pos += size
        return None

    return walk(0, len(data)) or (None, None)


def parse_dimensions(data: bytes) -> tuple[int | None, int | None]:
    """Width/height from container headers only — no pixel decode, no
    external libraries. Supports PNG (IHDR), GIF (logical screen),
    baseline/progressive JPEG (SOF scan), PPM/BMP headers, AVI (strf
    BITMAPINFOHEADER via the first video stream), and mp4/ISO-BMFF
    (moov→trak→tkhd fixed-point presentation size)."""
    kind = sniff_media_type(data)
    try:
        if kind == "image/x-portable-pixmap":
            width, height, _, _ = _parse_ppm_header(data)
            return width, height
        if kind == "image/bmp":
            width, height, _, _, _ = _parse_bmp_header(data)
            return width, height
        if kind == "image/png" and len(data) >= 24:
            width, height = struct.unpack(">II", data[16:24])
            return int(width), int(height)
        if kind == "image/gif" and len(data) >= 10:
            width, height = struct.unpack("<HH", data[6:10])
            return int(width), int(height)
        if kind == "image/jpeg":
            i = 2
            while i + 9 < len(data):
                if data[i] != 0xFF:
                    i += 1
                    continue
                marker = data[i + 1]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    height, width = struct.unpack(">HH", data[i + 5 : i + 9])
                    return int(width), int(height)
                seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
                i += 2 + seg_len
        if kind == "video/x-msvideo":
            return _parse_avi_dimensions(data)
        if kind == "video/mp4":
            return _parse_mp4_dimensions(data)
    except (struct.error, ValueError):
        pass
    return None, None


# ---------------------------------------------------------------------------
# PPM (P6) — the first REAL image codec (an ASCII header + raw RGB bytes,
# no imaging library needed); BMP, PNG, and JPEG joined it later. It gives
# resize_media a genuine decode → pixel-resample → re-encode branch (byte-
# exact oracle-checkable), alongside the declared stubs for formats whose
# codecs aren't installable here.
# ---------------------------------------------------------------------------


def _parse_ppm_header(data: bytes) -> tuple[int, int, int, int]:
    """(width, height, maxval, pixel_offset) of a binary PPM (P6).
    Tokenizer per the netpbm spec: whitespace-separated header fields,
    ``#`` comments running to end-of-line."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        if i >= len(data):
            raise ValueError("truncated PPM header")
        c = data[i : i + 1]
        if c.isspace():
            i += 1
        elif c == b"#":
            while i < len(data) and data[i : i + 1] != b"\n":
                i += 1
        elif c.isdigit():
            j = i
            while j < len(data) and data[j : j + 1].isdigit():
                j += 1
            fields.append(int(data[i:j]))
            i = j
        else:
            raise ValueError(f"bad PPM header byte {c!r}")
    if not data[i : i + 1].isspace():
        raise ValueError("missing single whitespace after maxval")
    i += 1  # exactly one whitespace byte separates header from pixels
    width, height, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    if len(data) - i < width * height * 3:
        raise ValueError("truncated PPM pixel data")
    return width, height, maxval, i


def decode_ppm(data: bytes):
    """PPM bytes → (height, width, 3) uint8 numpy array. Real decode, no
    external libraries."""
    import numpy as np

    width, height, _, off = _parse_ppm_header(data)
    pixels = np.frombuffer(data, dtype=np.uint8, count=width * height * 3, offset=off)
    return pixels.reshape(height, width, 3)


def encode_ppm(arr) -> bytes:
    """(h, w, 3) uint8 array → binary PPM bytes (canonical single-space
    header, so identical pixels always encode to identical bytes)."""
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype("uint8").tobytes()


def resize_ppm(data: bytes, target_width: int, target_height: int) -> bytes:
    """Real nearest-neighbor resize: decode → index-map resample → encode
    (shared ``_resample_nearest`` core, defined with the BMP codec)."""
    return encode_ppm(
        _resample_nearest(decode_ppm(data), target_width, target_height)
    )


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed) — the second format this container can REALLY
# decode without an imaging library: fixed little-endian headers + raw BGR
# rows, bottom-up, 4-byte row padding. Together with PPM it gives the
# codec branch two genuinely different container layouts (text header +
# RGB top-down vs binary header + padded BGR bottom-up) on one resample
# core — both byte-exact oracle-checkable.
# ---------------------------------------------------------------------------


def _parse_bmp_header(data: bytes) -> tuple[int, int, int, int, bool]:
    """(width, height, bpp, pixel_offset, top_down) of a BITMAPINFOHEADER
    BMP. Only the uncompressed (BI_RGB) 24-bit form is supported — the
    layout this module's canonical encoder emits."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    if len(data) < 54:
        raise ValueError("truncated BMP header")
    pixel_offset = struct.unpack("<I", data[10:14])[0]
    header_size = struct.unpack("<I", data[14:18])[0]
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    width = struct.unpack("<i", data[18:22])[0]
    height = struct.unpack("<i", data[22:26])[0]
    bpp = struct.unpack("<H", data[28:30])[0]
    compression = struct.unpack("<I", data[30:34])[0]
    if width <= 0 or height == 0:
        raise ValueError("bad BMP dimensions")
    if bpp != 24 or compression != 0:
        raise ValueError("only 24-bit uncompressed BMP supported")
    top_down = height < 0
    height = abs(height)
    row_bytes = (width * 3 + 3) & ~3
    if len(data) - pixel_offset < row_bytes * height:
        raise ValueError("truncated BMP pixel data")
    return width, height, bpp, pixel_offset, top_down


def decode_bmp(data: bytes):
    """BMP bytes → (height, width, 3) uint8 RGB array. Real decode:
    un-pads rows, flips bottom-up storage, swaps BGR → RGB."""
    import numpy as np

    width, height, _, off, top_down = _parse_bmp_header(data)
    row_bytes = (width * 3 + 3) & ~3
    rows = np.frombuffer(
        data, dtype=np.uint8, count=row_bytes * height, offset=off
    ).reshape(height, row_bytes)[:, : width * 3]
    img = rows.reshape(height, width, 3)
    if not top_down:
        img = img[::-1]
    return img[:, :, ::-1]  # BGR → RGB


def encode_bmp(arr) -> bytes:
    """(h, w, 3) uint8 RGB array → canonical 24-bit BMP bytes (bottom-up,
    BGR, zero resolution fields) so identical pixels always encode to
    identical bytes."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    body[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # flip + RGB→BGR
    size = 54 + row_bytes * h
    header = (
        b"BM"
        + struct.pack("<IHHI", size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row_bytes * h, 0, 0, 0, 0)
    )
    return header + body.tobytes()


def _resample_nearest(img, target_width: int, target_height: int):
    """Shared nearest-neighbor core: source pixel for target (x, y) is
    (floor(x·sw/tw), floor(y·sh/th)) — reproducible in SQL for oracles."""
    import numpy as np

    sh, sw = img.shape[0], img.shape[1]
    ys = (np.arange(target_height) * sh) // target_height
    xs = (np.arange(target_width) * sw) // target_width
    return img[ys][:, xs]


def resize_bmp(data: bytes, target_width: int, target_height: int) -> bytes:
    """Real BMP nearest-neighbor resize: decode → resample → re-encode."""
    return encode_bmp(
        _resample_nearest(decode_bmp(data), target_width, target_height)
    )


# ---------------------------------------------------------------------------
# PNG (8-bit truecolor, non-interlaced) — the third REAL image codec, and
# the first COMPRESSED one: chunk walk + zlib (stdlib) inflate + full
# five-filter unfiltering on decode; per-row cycling filters + deflate on
# encode, so every filter type (None/Sub/Up/Average/Paeth) is exercised in
# both directions on every image. The compressed byte stream is not
# SQL-reconstructable (zlib), so PNG oracles pin DECODED PIXELS, not file
# bytes; roundtrip exactness is property-tested. JPEG/video remain the
# declared stubs (true lossy decode needs native libs).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes):
    """PNG bytes → (height, width, 3) uint8 numpy array. REAL decode for
    8-bit truecolor (color type 2) non-interlaced images: chunk walk,
    stdlib-zlib inflate of the concatenated IDAT stream, then inverse
    filtering of all five PNG row filters."""
    import struct
    import zlib

    import numpy as np

    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, width, height, idat = len(_PNG_SIG), None, None, b""
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (depth, color, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "only 8-bit truecolor non-interlaced PNG supported"
                )
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + body + crc
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(idat)
    stride = width * 3
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel stream length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if ftype == 0:
            cur = row
        elif ftype == 2:  # Up
            cur = (row + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                left = cur[i - 3] if i >= 3 else 0
                up = int(prev[i])
                ul = int(prev[i - 3]) if i >= 3 else 0
                if ftype == 1:
                    cur[i] = (row[i] + left) & 0xFF
                elif ftype == 3:
                    cur[i] = (row[i] + (left + up) // 2) & 0xFF
                else:
                    cur[i] = (row[i] + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(height, width, 3)


def encode_png(arr) -> bytes:
    """(h, w, 3) uint8 array → PNG bytes. Row filters CYCLE through
    Sub/Up/Average/Paeth (row y uses 1 + y % 4) so decode paths for every
    filter type are exercised by construction; the stream deflates with a
    fixed level for run-to-run determinism within one runtime."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w = a.shape[0], a.shape[1]
    stride = w * 3
    flat = a.reshape(h, stride).astype(np.int32)
    pieces = []
    prev = np.zeros(stride, dtype=np.int32)
    zeros3 = np.zeros(3, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        # encode filters read only ORIGINAL cur/prev values (unlike
        # decode's inverse, which is sequential in x) — fully vectorized
        left = np.concatenate([zeros3, cur[:-3]])
        up = prev
        ul = np.concatenate([zeros3, prev[:-3]])
        ftype = 1 + y % 4
        if ftype == 1:
            enc = (cur - left) & 0xFF
        elif ftype == 2:
            enc = (cur - up) & 0xFF
        elif ftype == 3:
            enc = (cur - (left + up) // 2) & 0xFF
        else:
            p = left + up - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
            )
            enc = (cur - pred) & 0xFF
        pieces.append(bytes([ftype]) + enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    idat = zlib.compress(b"".join(pieces), 6)
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    )


def resize_png(data: bytes, target_width: int, target_height: int) -> bytes:
    """Real PNG nearest-neighbor resize: inflate+unfilter decode →
    resample → filtered deflate re-encode."""
    return encode_png(
        _resample_nearest(decode_png(data), target_width, target_height)
    )


# ---------------------------------------------------------------------------
# WAV (PCM) — the REAL audio codec: RIFF chunk walk + raw little-endian
# samples, no audio library needed. Gives the audio modality a genuine
# decode → feature-extract path (sample-exact, oracle-checkable; the
# lossy-codec formats stay declared stubs).
# ---------------------------------------------------------------------------


def _parse_wav_header(data: bytes) -> tuple[int, int, int, int, int]:
    """(sample_rate, n_channels, bits_per_sample, data_offset, data_len)
    of a RIFF/WAVE file — canonical chunk walk (fmt before data; unknown
    chunks skipped, word-aligned)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    sample_rate = n_channels = bits = None
    i = 12
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        clen = struct.unpack("<I", data[i + 4 : i + 8])[0]
        body = i + 8
        if cid == b"fmt ":
            if clen < 16 or body + 16 > len(data):
                raise ValueError("truncated fmt chunk")
            fmt_tag, n_channels, sample_rate = struct.unpack(
                "<HHI", data[body : body + 8]
            )
            bits = struct.unpack("<H", data[body + 14 : body + 16])[0]
            if fmt_tag != 1:
                raise ValueError("only PCM (format 1) WAV supported")
        elif cid == b"data":
            if sample_rate is None:
                raise ValueError("data chunk before fmt")
            if body + clen > len(data):
                raise ValueError("truncated data chunk")
            return sample_rate, n_channels, bits, body, clen
        i = body + clen + (clen & 1)  # chunks are word-aligned
    raise ValueError("no data chunk")


def decode_wav_pcm16(data: bytes):
    """WAV bytes → (samples: int16 array shaped (n_frames, n_channels),
    sample_rate). Real decode for 16-bit PCM."""
    import numpy as np

    sample_rate, n_channels, bits, off, dlen = _parse_wav_header(data)
    if bits != 16:
        raise ValueError("only 16-bit PCM supported")
    n = dlen // (2 * n_channels)
    samples = np.frombuffer(
        data, dtype="<i2", count=n * n_channels, offset=off
    ).reshape(n, n_channels)
    return samples, sample_rate


def extract_audio_features(df: DataFrame) -> DataFrame:
    """REAL audio feature extraction over Arrow-batched mapInPandas:
    decode PCM16 WAV and compute duration, peak, and RMS energy —
    sample-exact (integer peak/duration; RMS is one IEEE sqrt over an
    exact integer sum of squares, so an SQL oracle reproduces it
    bit-for-bit). Non-WAV or malformed assets yield a NULL feature row
    rather than failing the job."""
    schema = (
        "asset_id long, sample_rate int, n_channels int, n_samples long,"
        " duration_ms double, peak_abs int, rms double"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {k: [] for k in (
                "asset_id", "sample_rate", "n_channels", "n_samples",
                "duration_ms", "peak_abs", "rms",
            )}
            for i, raw in zip(pdf["asset_id"], pdf["media"]):
                out["asset_id"].append(i)
                try:
                    samples, rate = decode_wav_pcm16(bytes(raw or b""))
                    s = samples.astype(np.int64)
                    n = s.shape[0]
                    out["sample_rate"].append(rate)
                    out["n_channels"].append(s.shape[1])
                    out["n_samples"].append(n)
                    out["duration_ms"].append(n * 1000.0 / rate)
                    out["peak_abs"].append(int(np.abs(s).max()) if n else 0)
                    out["rms"].append(
                        float(np.sqrt(float((s * s).sum()) / s.size))
                        if n else 0.0
                    )
                except ValueError:
                    for k in ("sample_rate", "n_channels", "n_samples",
                              "duration_ms", "peak_abs", "rms"):
                        out[k].append(None)
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=schema)


def attach_media_metadata(df: DataFrame) -> DataFrame:
    """Typed metadata for an opaque binary column via Arrow-batched
    mapInPandas: container type, byte size, header dimensions, content
    fingerprint (the exact-dedup key for media)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            raw = pdf["media"]
            dims = raw.map(lambda b: parse_dimensions(b) if b else (None, None))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": raw.map(sniff_media_type),
                    "byte_size": raw.map(lambda b: len(b) if b is not None else 0),
                    "width": dims.map(lambda d: d[0]),
                    "height": dims.map(lambda d: d[1]),
                    "content_md5": raw.map(
                        lambda b: hashlib.md5(b).hexdigest() if b is not None else None
                    ),
                }
            )

    return df.mapInPandas(batches, schema=MEDIA_META_SCHEMA)


def _fake_feature(data: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a decode→embed step: md5-seeded values.
    Shape/semantics match a real extractor (unit-scaled float vector).

    Engine-portable on purpose (the ml/embedding._seeded_vector formula):
    component j is integer arithmetic on the first 8 hex digits of
    ``md5(md5(data).hex + '|' + j)`` followed by one exact IEEE division,
    so a SQL oracle (DuckDB md5 + hex cast) reproduces the doubles
    bit-for-bit — the fake path is hash-adjudicable, not just shaped."""
    base = hashlib.md5(data or b"").hexdigest()
    out = []
    for j in range(dim):
        v = int(hashlib.md5(f"{base}|{j}".encode()).hexdigest()[:8], 16)
        out.append((v % 2000001 - 1000000) / 1000000.0)
    return out


def extract_media_features(df: DataFrame, dim: int) -> DataFrame:
    """Decode → feature-extract as mapInPandas. The pixel decode is a
    deterministic md5-seeded feature (this container has no imaging
    library) — the Spark plumbing (schema, Arrow batching, partitioning)
    is identical to a real extractor's. Byte-budget partitioning (media
    rows are megabytes; row counts lie) is the caller's: derive it from
    parquet file metadata or a prior metadata pass, NOT from an extra
    full scan of the media bytes here."""

    # double, not float: the feature values are md5-derived doubles with an
    # exact SQL twin; a float32 truncation here would break the oracle's
    # bit-level equality (and a real extractor would hand back float64 too)
    schema = "asset_id long, feature array<double>"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = pdf["media"].map(lambda b: _fake_feature(b, dim))
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "feature": feats})

    return df.mapInPandas(batches, schema=schema)


def encode_avi_mjpeg(frames: list, fps: int = 10) -> bytes:
    """RGB frame arrays → Motion-JPEG AVI bytes (RIFF: hdrl with
    avih/strh/strf, movi with one '00dc' JPEG chunk per frame). REAL
    container + REAL per-frame codec (operators/jpeg.py), pure Python."""
    from clinical_bi_spark.operators.jpeg import encode_jpeg

    import numpy as np

    if not frames:
        raise ValueError("at least one frame required")
    h, w = np.asarray(frames[0]).shape[:2]

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    jpegs = [encode_jpeg(f) for f in frames]
    max_bytes = max(len(j) for j in jpegs)
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # usec/frame
        max_bytes * fps,   # max bytes/sec
        0, 0x10,           # padding, flags (HASINDEX off, INTERLEAVED-ish)
        len(jpegs), 0, 1, max_bytes, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        # flags, priority, language, initial, scale, rate, start, length,
        # suggested buffer, quality, sample size (56-byte AVIStreamHeader)
        + struct.pack("<IHH8I", 0, 0, 0, 0, 1, fps, 0, len(jpegs),
                      max_bytes, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_mjpeg_frames(data: bytes) -> list[bytes]:
    """AVI bytes → list of per-frame JPEG byte strings: walk the RIFF
    tree to the 'movi' LIST and collect '00dc'/'00db' chunk payloads.
    Container-level decode only; callers pass frames to decode_jpeg."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            tag = data[pos : pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_start = pos + 8
            if tag == b"LIST":
                kind = data[body_start : body_start + 4]
                if kind in (b"movi", b"hdrl", b"rec "):
                    walk(body_start + 4, body_start + size)
            elif tag in (b"00dc", b"00db"):
                frames.append(data[body_start : body_start + size])
            pos = body_start + size + (size % 2)  # RIFF even padding

    walk(12, len(data))
    return frames


def sample_video_frames(
    df: DataFrame,
    every_n: int,
    frame_bytes: int = 256,
) -> DataFrame:
    """Frame sampling: one output row per sampled frame (fan-out generator
    shape).

    * **AVI/MJPEG** assets (sniffed ``video/x-msvideo``) take the REAL
      path: the RIFF 'movi' chunk walk yields per-frame JPEGs and every
      ``every_n``-th one is emitted (decodable with
      operators/jpeg.decode_jpeg downstream).
    * other containers — general video (mp4/h264 etc.) needs pyav/ffmpeg,
      so the byte stream is modeled as fixed-size ``frame_bytes`` frames
      and sliced: the Spark plumbing (mapInPandas row fan-out, Arrow
      binary batches, typed output schema) is exactly the real path's,
      and the byte slicing keeps the registry query oracle-checkable end
      to end."""

    schema = "asset_id long, frame_index int, frame binary"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list[int] = []
            idxs: list[int] = []
            frames: list[bytes] = []
            for aid, data in zip(pdf["asset_id"], pdf["media"]):
                data = bytes(data or b"")
                if sniff_media_type(data) == "video/x-msvideo":
                    for i, fr in enumerate(decode_avi_mjpeg_frames(data)):
                        if i % every_n == 0:
                            ids.append(aid)
                            idxs.append(i)
                            frames.append(fr)
                    continue
                n_frames = len(data) // frame_bytes
                for i in range(0, n_frames, every_n):
                    ids.append(aid)
                    idxs.append(i)
                    frames.append(data[i * frame_bytes : (i + 1) * frame_bytes])
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "frame_index": pd.Series(idxs, dtype="int32"),
                    "frame": pd.Series(frames, dtype=object),
                }
            )

    return df.mapInPandas(batches, schema=schema)


def resize_media(
    df: DataFrame,
    target_width: int = 8,
    target_height: int = 8,
) -> DataFrame:
    """Resize/downsample: binary in → smaller binary out, plus the output
    size as typed metadata. Codec dispatch per asset:

    * **PPM (P6) / BMP (24-bit) / PNG (8-bit truecolor)** — REAL decode →
      nearest-neighbor pixel resample to ``target_width × target_height``
      → re-encode (:func:`resize_ppm` / :func:`resize_bmp` /
      :func:`resize_png`); pure Python + numpy + stdlib zlib, no external
      codec. PPM/BMP are byte-exact oracle-checkable; PNG is pixel-exact
      (compressed bytes aren't SQL-reconstructable).
    * other formats, and malformed assets of the formats above —
      byte-stream downsampling to 64 bytes (every ceil(n/64)-th byte): the declared stand-in for codecs this
      container cannot install (PIL/cv2), preserving the real path's
      shape (deterministic, size-bounded, Arrow-batched)."""

    schema = "asset_id long, resized binary, resized_bytes int"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # codec dispatch built once per worker batch, not per row
        from clinical_bi_spark.operators.gif import resize_gif_gray
        from clinical_bi_spark.operators.jpeg import resize_jpeg

        codecs = {
            "image/x-portable-pixmap": resize_ppm,
            "image/bmp": resize_bmp,
            "image/png": resize_png,
            "image/jpeg": resize_jpeg,
            # grayscale-palette contract; color GIFs fail the contract
            # and fall to the byte-downsample path
            "image/gif": resize_gif_gray,
        }

        for pdf in it:
            def shrink(data: bytes | None) -> bytes:
                data = data or b""
                real = codecs.get(sniff_media_type(data))
                if real is not None:
                    try:
                        return real(data, target_width, target_height)
                    except Exception:
                        # Bytes sniffed as a decodable container but the
                        # payload is malformed/truncated/out-of-contract.
                        # Codecs are data-dependent parsers, and their
                        # failure modes span ValueError/struct.error/
                        # zlib.error/IndexError/EOFError — one corrupt
                        # asset must not kill a 100 TB job, so ANY codec
                        # failure falls through to the byte-downsample
                        # path.
                        pass
                if len(data) <= 64:
                    return data
                step = -(-len(data) // 64)  # ceil
                return data[::step]

            resized = pdf["media"].map(shrink)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "resized": resized,
                    "resized_bytes": resized.map(len).astype("int32"),
                }
            )

    return df.mapInPandas(batches, schema=schema)


def encode_wav_pcm16(samples, sample_rate: int) -> bytes:
    """(n_frames, n_channels) int16 array → RIFF/WAVE PCM16 bytes —
    the inverse of :func:`decode_wav_pcm16` (canonical 44-byte header,
    interleaved little-endian frames)."""
    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    n_channels = arr.shape[1]
    payload = arr.tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(payload))
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH",
            16, 1, n_channels, sample_rate,
            sample_rate * 2 * n_channels, 2 * n_channels, 16,
        )
        + b"data"
        + struct.pack("<I", len(payload))
        + payload
    )


def resample_wav_pcm16(data: bytes, target_rate: int) -> bytes:
    """Nearest-neighbor (zero-order-hold) sample-rate conversion for PCM16
    WAV — the speech-pipeline "everything to 16 kHz" prep step, exact by
    construction: output frame i takes input frame (i·src) div target
    (pure integer arithmetic, no filter state, any rational ratio), with
    n_out = (n_in·target) div src. Real decode → index-map → real
    re-encode; channels pass through interleaved."""
    import numpy as np

    if target_rate < 1:
        raise ValueError("target_rate must be >= 1")
    samples, src_rate = decode_wav_pcm16(data)
    n_in = samples.shape[0]
    n_out = (n_in * target_rate) // src_rate
    idx = (np.arange(n_out, dtype="int64") * src_rate) // target_rate
    return encode_wav_pcm16(samples[idx], target_rate)


def resample_audio(
    df: DataFrame,
    target_rate: int,
) -> DataFrame:
    """Arrow-batched audio resampling over a binary media column: WAV
    assets go through the REAL codec path (decode → nearest-neighbor
    index map → re-encode at ``target_rate``); non-WAV or malformed rows
    yield NULL (mixed-corpus filter, not failure)."""
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for b in pdf["media"]:
                if b is None:
                    out.append(None)
                    continue
                data = bytes(b)
                if sniff_media_type(data) != "audio/wav":
                    out.append(None)
                    continue
                try:
                    out.append(resample_wav_pcm16(data, target_rate))
                except (ValueError, struct.error):
                    out.append(None)
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "resampled": out})

    return df.mapInPandas(batches, schema="asset_id long, resampled binary")


def extract_image_patches(df: DataFrame, patch: int) -> DataFrame:
    """ViT-style patchify over a binary media column: REAL decode (PPM and
    BMP paths), split into the non-overlapping ``patch``×``patch`` grid,
    one output row per patch with its raw RGB bytes and integer pixel
    sum — the fan-out generator shape vision tokenizers consume. Images
    whose dimensions aren't multiples of ``patch``, undecodable formats,
    and NULLs emit nothing (mixed-corpus filter, not failure)."""
    import numpy as np
    import pandas as pd

    if patch < 1:
        raise ValueError("patch must be >= 1")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one output frame per input Arrow batch (same streaming shape as
        # extract_mp4_sync_samples / sample_video_frames): accumulating
        # the whole partition in one dict would hold every patch of every
        # asset in executor memory at once
        for pdf in it:
            rows: dict = {k: [] for k in ("id", "pr", "pc", "pix", "s")}
            for asset_id, b in zip(pdf["asset_id"], pdf["media"]):
                if b is None:
                    continue
                data = bytes(b)
                kind = sniff_media_type(data)
                try:
                    if kind == "image/x-portable-pixmap":
                        img = decode_ppm(data)
                    elif kind == "image/bmp":
                        img = decode_bmp(data)
                    else:
                        continue
                except ValueError:
                    continue
                h, w = img.shape[:2]
                if h % patch or w % patch:
                    continue
                for pr in range(h // patch):
                    for pc in range(w // patch):
                        tile = img[
                            pr * patch : (pr + 1) * patch,
                            pc * patch : (pc + 1) * patch,
                        ]
                        rows["id"].append(asset_id)
                        rows["pr"].append(pr)
                        rows["pc"].append(pc)
                        rows["pix"].append(tile.tobytes())
                        rows["s"].append(int(tile.astype(np.int64).sum()))
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(rows["id"], dtype="int64"),
                    "patch_row": pd.Series(rows["pr"], dtype="int32"),
                    "patch_col": pd.Series(rows["pc"], dtype="int32"),
                    "patch": rows["pix"],
                    "pixel_sum": pd.Series(rows["s"], dtype="int64"),
                }
            )

    return df.mapInPandas(
        batches,
        schema=(
            "asset_id long, patch_row int, patch_col int, "
            "patch binary, pixel_sum long"
        ),
    )
