"""Multimodal plumbing tests: synthetic media bytes (hand-built PNG/GIF/
JPEG/WAV headers — no imaging libraries involved), metadata extraction,
fake-decode feature path and the byte-downsample fallbacks."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from clinical_bi_spark.operators.multimodal import (
    attach_media_metadata,
    extract_media_features,
    parse_dimensions,
    sample_video_frames,
    sniff_media_type,
)
from tests.conftest import SF_ORACLE


def png_bytes(width: int, height: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", width, height) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
        + b"fakepixeldata"
    )


def gif_bytes(width: int, height: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00" * 10


def jpeg_bytes(width: int, height: int) -> bytes:
    # SOI + APP0 segment + SOF0 with dims
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", height, width) + b"\x01\x11\x00"
    return b"\xff\xd8\xff" + app0[1:] + sof0 + b"\xff\xd9"


def wav_bytes() -> bytes:
    return b"RIFF" + b"\x24\x00\x00\x00" + b"WAVEfmt " + b"\x00" * 24


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, png_bytes(640, 480)),
        (2, gif_bytes(32, 20)),
        (3, jpeg_bytes(1920, 1080)),
        (4, wav_bytes()),
        (5, b"garbage-not-a-container"),
        (6, None),
        (7, png_bytes(640, 480)),  # duplicate content of asset 1
    ]
    return spark.createDataFrame(rows, "asset_id long, media binary")


def test_header_parsers():
    assert parse_dimensions(png_bytes(640, 480)) == (640, 480)
    assert parse_dimensions(gif_bytes(32, 20)) == (32, 20)
    assert parse_dimensions(jpeg_bytes(1920, 1080)) == (1920, 1080)
    assert sniff_media_type(wav_bytes()) == "audio/wav"
    assert sniff_media_type(b"junk") == "application/octet-stream"
    assert sniff_media_type(None) == "empty"


def test_attach_media_metadata(media_df):
    meta = {r.asset_id: r for r in attach_media_metadata(media_df).collect()}
    assert meta[1].media_type == "image/png" and (meta[1].width, meta[1].height) == (640, 480)
    assert meta[2].media_type == "image/gif" and meta[2].width == 32
    assert meta[3].media_type == "image/jpeg" and meta[3].height == 1080
    assert meta[4].media_type == "audio/wav" and meta[4].width is None
    assert meta[5].media_type == "application/octet-stream"
    assert meta[6].media_type == "empty" and meta[6].byte_size == 0
    # content fingerprint = media exact-dedup key
    assert meta[1].content_md5 == meta[7].content_md5
    assert meta[1].content_md5 != meta[2].content_md5


def test_extract_media_features_fake_path(media_df):
    feats = {r.asset_id: r.feature for r in extract_media_features(media_df, dim=16).collect()}
    assert len(feats) == 7
    assert all(len(v) == 16 for v in feats.values())
    assert feats[1] == feats[7], "same bytes ⇒ same deterministic feature"
    assert feats[1] != feats[2]
    # metadata-only query doesn't need the bytes: dedup via fingerprints
    dups = (
        attach_media_metadata(media_df)
        .groupBy("content_md5")
        .agg(F.count("*").alias("n"), F.min("asset_id").alias("keep"))
        .filter(F.col("n") > 1)
        .collect()
    )
    assert len(dups) == 1 and dups[0].keep == 1


def test_video_sampling_fake_codec_fanout(spark):
    # 600 bytes -> 2 full 256-byte frames -> indices 0 (and 2 if >=3 frames);
    # every_n=2 samples frame 0 only; 1100 bytes -> 4 frames -> 0 and 2
    df = spark.createDataFrame(
        [(1, b"a" * 600), (2, b"b" * 1100), (3, b"c" * 100), (4, None)],
        "asset_id long, media binary",
    )
    rows = sorted(
        (r.asset_id, r.frame_index, len(r.frame))
        for r in sample_video_frames(df, every_n=2, frame_bytes=256).collect()
    )
    assert rows == [(1, 0, 256), (2, 0, 256), (2, 2, 256)]


def test_resize_fake_codec_bounds_and_determinism(spark):
    from clinical_bi_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [(1, bytes(range(256)) * 4), (2, b"xy"), (3, None)],
        "asset_id long, media binary",
    )
    rows = {r.asset_id: r for r in resize_media(df).collect()}
    assert rows[1].resized_bytes <= 64  # downsampled under the budget
    assert rows[1].resized[:2] == bytes([0, 16])  # every 16th byte: deterministic
    assert rows[2].resized == b"xy"  # already under budget: unchanged
    assert rows[3].resized == b"" and rows[3].resized_bytes == 0
    again = {r.asset_id: r for r in resize_media(df).collect()}
    assert all(again[k].resized == rows[k].resized for k in rows)


def test_ppm_codec_roundtrip_and_parser():
    import numpy as np

    from clinical_bi_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
        parse_dimensions,
        resize_ppm,
        sniff_media_type,
    )

    img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    data = encode_ppm(img)
    assert sniff_media_type(data) == "image/x-portable-pixmap"
    assert parse_dimensions(data) == (6, 4)
    assert (decode_ppm(data) == img).all()

    # comments + arbitrary whitespace per the netpbm spec
    commented = b"P6 # comment\n# full line\n 6\t4 # trailing\n255\n" + img.tobytes()
    assert (decode_ppm(commented) == img).all()

    # nearest-neighbor downsample: target (x, y) <- source (2x, 2y)
    small = decode_ppm(resize_ppm(encode_ppm(img), 3, 2))
    assert (small == img[::2, ::2]).all()


def test_ppm_codec_rejects_malformed():
    import numpy as np
    import pytest

    from clinical_bi_spark.operators.multimodal import decode_ppm, encode_ppm

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    good = encode_ppm(img)
    with pytest.raises(ValueError, match="not a P6"):
        decode_ppm(b"P5" + good[2:])
    with pytest.raises(ValueError, match="truncated PPM pixel"):
        decode_ppm(good[:-1])
    with pytest.raises(ValueError, match="16-bit"):
        decode_ppm(b"P6\n2 2\n65535\n" + b"\x00" * 24)


def test_resize_media_dispatch(spark):
    """PPM assets take the real pixel path; others byte-downsample."""
    import numpy as np

    from clinical_bi_spark.operators.multimodal import encode_ppm, resize_media

    img = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    ppm = encode_ppm(img)
    df = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(b"x" * 500))],
        "asset_id long, media binary",
    )
    rows = {
        r.asset_id: bytes(r.resized)
        for r in resize_media(df, target_width=4, target_height=4).collect()
    }
    assert rows[1] == encode_ppm(img[::4, ::4])
    assert len(rows[2]) <= 64  # fake byte-downsample path


def test_resize_tolerates_malformed_ppm(spark):
    """Bytes that sniff as PPM ('P6' + whitespace) but are truncated or
    corrupt must fall back to the byte-downsample path —
    one bad asset must not fail the job."""
    from clinical_bi_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [
            (1, b"P6\n16 16\n255\n" + bytes(10)),   # truncated payload
            (2, b"P6\nnot numbers\n"),              # malformed header
            (3, b"P6 "),                            # sniffs, nothing else
        ],
        "asset_id long, media binary",
    )
    rows = {
        r.asset_id: r
        for r in resize_media(df, target_width=8, target_height=8).collect()
    }
    assert set(rows) == {1, 2, 3}
    for r in rows.values():
        assert r.resized is not None


def test_bmp_codec_roundtrip_and_padding():
    """Pure-Python BMP codec: encode→decode is identity (including odd
    widths, where rows pad to 4 bytes), and the parser rejects non-BMP
    and truncated bytes."""
    import numpy as np
    import pytest as _pytest

    from clinical_bi_spark.operators.multimodal import (
        _parse_bmp_header,
        decode_bmp,
        encode_bmp,
        resize_bmp,
    )

    rng = np.random.RandomState(11)
    for h, w in [(16, 16), (5, 7), (1, 1), (3, 2)]:
        img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        assert (decode_bmp(encode_bmp(img)) == img).all(), (h, w)
    img = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    assert (decode_bmp(resize_bmp(encode_bmp(img), 8, 8)) == img[::2, ::2]).all()
    with _pytest.raises(ValueError):
        _parse_bmp_header(b"not a bmp")
    with _pytest.raises(ValueError):
        _parse_bmp_header(encode_bmp(img)[:40])  # truncated header
    with _pytest.raises(ValueError):
        _parse_bmp_header(encode_bmp(img)[:-10])  # truncated pixels


def test_resize_media_routes_bmp_through_real_codec(spark):
    """resize_media must hit the real BMP branch (decoded pixel equality),
    and malformed 'BM' bytes must fall back instead of failing."""
    import numpy as np

    from clinical_bi_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
        resize_media,
    )

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, encode_bmp(img)), (2, b"BM truncated junk")],
        "asset_id long, media binary",
    )
    rows = {
        r.asset_id: r
        for r in resize_media(df, target_width=8, target_height=8).collect()
    }
    assert (decode_bmp(bytes(rows[1].resized)) == img[::2, ::2]).all()
    assert rows[2].resized is not None  # fallback, not a job failure


def test_wav_codec_decode_and_chunk_walk():
    """RIFF chunk walk: fmt before data, unknown chunks skipped with word
    alignment; PCM16 samples decode sign-correct; malformed bytes raise."""
    import struct as _s

    import numpy as np
    import pytest as _pytest

    from clinical_bi_spark.operators.multimodal import (
        _parse_wav_header,
        decode_wav_pcm16,
    )

    samples = np.array([[0], [-1], [32767], [-32768], [1234]], dtype="<i2")
    data_chunk = samples.tobytes()
    fmt = b"fmt " + _s.pack("<I", 16) + _s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    junk = b"LIST" + _s.pack("<I", 5) + b"abcde\x00"  # odd length + pad byte
    wav = (
        b"RIFF" + _s.pack("<I", 0) + b"WAVE" + fmt + junk
        + b"data" + _s.pack("<I", len(data_chunk)) + data_chunk
    )
    out, rate = decode_wav_pcm16(wav)
    assert rate == 8000 and (out == samples).all()
    with _pytest.raises(ValueError, match="not a RIFF"):
        _parse_wav_header(b"nope")
    with _pytest.raises(ValueError, match="no data chunk"):
        _parse_wav_header(b"RIFF\x00\x00\x00\x00WAVE" + fmt)
    # non-PCM format tag rejected
    badfmt = b"fmt " + _s.pack("<I", 16) + _s.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)
    with _pytest.raises(ValueError, match="only PCM"):
        _parse_wav_header(b"RIFF\x00\x00\x00\x00WAVE" + badfmt
                          + b"data" + _s.pack("<I", 0))


def test_extract_audio_features_real_and_null_rows(spark):
    import struct as _s

    import numpy as np

    from clinical_bi_spark.operators.multimodal import extract_audio_features

    samples = np.array([3, -4, 0, 12], dtype="<i2")
    fmt = b"fmt " + _s.pack("<I", 16) + _s.pack("<HHIIHH", 1, 1, 4000, 8000, 2, 16)
    wav = (
        b"RIFF" + _s.pack("<I", 0) + b"WAVE" + fmt
        + b"data" + _s.pack("<I", len(samples.tobytes())) + samples.tobytes()
    )
    df = spark.createDataFrame(
        [(1, wav), (2, b"not audio"), (3, None)],
        "asset_id long, media binary",
    )
    rows = {r.asset_id: r for r in extract_audio_features(df).collect()}
    r1 = rows[1]
    assert (r1.sample_rate, r1.n_channels, r1.n_samples) == (4000, 1, 4)
    assert r1.duration_ms == 1.0 and r1.peak_abs == 12
    assert abs(r1.rms - (sum(x * x for x in [3, -4, 0, 12]) / 4) ** 0.5) < 1e-9
    assert rows[2].rms is None and rows[3].rms is None  # null, not a crash


def test_jpeg_flat_blocks_roundtrip_exactly():
    """A constant image is DC-only: quality-90 quantization must preserve
    it bit-exactly — the analytic invariant that catches DCT/quant/
    Huffman sign or scaling bugs immediately."""
    import numpy as np

    from clinical_bi_spark.operators.jpeg import decode_jpeg, encode_jpeg

    for v in (0, 1, 100, 128, 254, 255):
        img = np.full((16, 24, 3), v, dtype=np.uint8)
        back = decode_jpeg(encode_jpeg(img))
        assert back.shape == img.shape
        assert int(np.abs(back.astype(int) - v).max()) <= 1, v


def test_jpeg_smooth_image_error_bounded():
    """Smooth gradients (JPEG's design regime) must roundtrip within a
    couple of intensity levels at quality 90."""
    import numpy as np

    from clinical_bi_spark.operators.jpeg import decode_jpeg, encode_jpeg

    y, x = np.meshgrid(np.arange(24), np.arange(17), indexing="ij")
    img = np.stack(
        [(y * 3) % 256, (x * 5) % 256, ((x + y) * 2) % 256], axis=-1
    ).astype(np.uint8)
    back = decode_jpeg(encode_jpeg(img))
    err = np.abs(back.astype(int) - img.astype(int))
    assert err.max() <= 4 and err.mean() <= 1.5


def test_jpeg_noise_error_bounded_and_header_independent_parse(spark=None):
    """Worst-case (uniform noise) stays within lossy-codec bounds, and the
    emitted SOF0 header parses with the INDEPENDENT dimension parser —
    a cross-check that the container layout is real JPEG, not a private
    format both codec halves happen to agree on."""
    import numpy as np

    from clinical_bi_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from clinical_bi_spark.operators.multimodal import (
        parse_dimensions,
        sniff_media_type,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    data = encode_jpeg(img)
    assert sniff_media_type(data) == "image/jpeg"
    assert parse_dimensions(data) == (16, 16)
    back = decode_jpeg(data)
    err = np.abs(back.astype(int) - img.astype(int))
    assert err.mean() <= 12 and err.max() <= 120


def test_jpeg_resize_query_error_bounds(spark):
    """The registry query's designated check: the double-lossy chain
    (encode → decode → resample → re-encode → decode) against the
    high-frequency synthesis pattern stays within measured bounds."""
    from clinical_bi_spark.queries import load_all

    rows = (
        load_all()["multimodal_resize_jpeg"]
        .fn(spark, SF_ORACLE)
        .collect()
    )
    assert len(rows) == 500
    assert all(r["media_type"] == "image/jpeg" for r in rows)
    assert all(
        r["resized_width"] == 8 and r["resized_height"] == 8 for r in rows
    )
    assert max(r["max_abs_err"] for r in rows) <= 80
    assert sum(r["mean_abs_err"] for r in rows) / len(rows) <= 15.0


def test_avi_mjpeg_container_roundtrip():
    """RIFF/AVI container walk returns exactly the encoded frame chunk
    payloads, in order, and the sniffer classifies the container."""
    import numpy as np

    from clinical_bi_spark.operators.jpeg import decode_jpeg
    from clinical_bi_spark.operators.multimodal import (
        decode_avi_mjpeg_frames,
        encode_avi_mjpeg,
    )

    rng = np.random.RandomState(3)
    frames = [
        (rng.randint(0, 64, (8, 8, 3)) * 4).astype("uint8") for _ in range(5)
    ]
    avi = encode_avi_mjpeg(frames, fps=10)
    assert sniff_media_type(avi) == "video/x-msvideo"
    out = decode_avi_mjpeg_frames(avi)
    assert len(out) == 5
    for fr, orig in zip(out, frames):
        assert decode_jpeg(fr).shape == orig.shape


def test_video_frame_sampler_takes_real_avi_path(spark):
    """sample_video_frames on an AVI asset must emit every_n-th REAL JPEG
    frame (not byte slices): indices 0,2,4 of a 6-frame video, each frame
    decodable with bounded error."""
    import numpy as np

    from clinical_bi_spark.operators.jpeg import decode_jpeg
    from clinical_bi_spark.operators.multimodal import (
        encode_avi_mjpeg,
        sample_video_frames,
    )

    y, x = np.meshgrid(np.arange(16), np.arange(16), indexing="ij")
    grads = [
        np.stack([(y * 3 + k) % 256, (x * 5) % 256, (y + x) % 256], axis=-1)
        .astype("uint8")
        for k in range(6)
    ]
    avi = encode_avi_mjpeg(grads, fps=5)
    df = spark.createDataFrame([(1, bytearray(avi))], "asset_id long, media binary")
    rows = sample_video_frames(df, every_n=2).collect()
    assert sorted(r["frame_index"] for r in rows) == [0, 2, 4]
    for r in rows:
        img = decode_jpeg(bytes(r["frame"]))
        err = np.abs(img.astype(int) - grads[r["frame_index"]].astype(int))
        assert img.shape == (16, 16, 3) and err.max() <= 40


def test_mjpeg_frames_query_bounds(spark):
    """Designated check of the rows-only video query: 3 sampled frames
    per doc, frame dims preserved, error within the measured ceiling."""
    from clinical_bi_spark.queries import load_all

    rows = (
        load_all()["multimodal_video_mjpeg_frames"].fn(spark, SF_ORACLE).collect()
    )
    assert len(rows) == 500 * 3
    assert {r["frame_index"] for r in rows} == {0, 2, 4}
    assert all(
        r["frame_width"] == 16 and r["frame_height"] == 16 for r in rows
    )
    assert max(r["max_abs_err"] for r in rows) <= 80


def test_mp4_and_avi_dimension_parsing():
    """Container-level dims for video without any codec: AVI via strf's
    BITMAPINFOHEADER, mp4 via the moov→trak→tkhd walk (both tkhd
    versions' fixed-point width/height offsets)."""
    import struct

    import numpy as np

    from clinical_bi_spark.operators.multimodal import encode_avi_mjpeg

    avi = encode_avi_mjpeg([np.zeros((12, 20, 3), dtype=np.uint8)])
    assert parse_dimensions(avi) == (20, 12)

    def box(tag, body):
        return struct.pack(">I", len(body) + 8) + tag + body

    # pre = spec bytes between flags and width: v0 20+8+8+36=72, v1 84
    for version, pre in ((0, 72), (1, 84)):
        tkhd = bytes([version]) + bytes(3) + bytes(pre) + struct.pack(
            ">II", 640 << 16, 360 << 16
        )
        mp4 = box(b"ftyp", b"isom" + bytes(8)) + box(
            b"moov", box(b"trak", box(b"tkhd", tkhd))
        )
        assert sniff_media_type(mp4) == "video/mp4"
        assert parse_dimensions(mp4) == (640, 360), version


def _reference_lzw_compress(indices, min_code_size=8):
    """Independent REAL LZW compressor (textbook dictionary coding with
    growing widths and 4096-entry reset) — exists only to prove the
    decoder handles genuinely compressed streams, not just the literal
    scheme the engine's encoder emits."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1

    out = []

    class BW:
        def __init__(self):
            self.bytes, self.acc, self.n = bytearray(), 0, 0

        def put(self, code, width):
            self.acc |= code << self.n
            self.n += width
            while self.n >= 8:
                self.bytes.append(self.acc & 0xFF)
                self.acc >>= 8
                self.n -= 8

        def flush(self):
            if self.n:
                self.bytes.append(self.acc & 0xFF)

    bw = BW()

    def fresh():
        return {(i,): i for i in range(clear)}, min_code_size + 1, end + 1

    table, width, nxt = fresh()
    bw.put(clear, width)
    seq = ()
    for ix in indices:
        cand = seq + (ix,)
        if cand in table:
            seq = cand
            continue
        bw.put(table[seq], width)
        table[cand] = nxt
        nxt += 1
        if nxt - 1 == (1 << width) and width < 12:
            width += 1
        if nxt >= 4096:
            bw.put(clear, width)
            table, width, nxt = fresh()
        seq = (ix,)
    if seq:
        bw.put(table[seq], width)
    bw.put(end, width)
    bw.flush()
    return bytes(bw.bytes)


def test_gif_lzw_decoder_handles_real_compression():
    """Differential: the engine's LZW decoder must invert an INDEPENDENT
    real compressor across repetitive (dictionary-heavy, width-growing)
    and random streams, including the KwKwK pattern."""
    from clinical_bi_spark.operators.gif import _lzw_decode

    import numpy as np

    streams = [
        [5] * 5000,                         # KwKwK immediately, deep dict
        list(range(256)) * 20,              # cyclic, grows width past 9
        list(np.random.RandomState(7).randint(0, 256, 20000)),  # random
        [0, 0, 0, 1, 1, 0, 0, 0, 1, 1] * 400,
    ]
    for s in streams:
        assert _lzw_decode(_reference_lzw_compress(s), 8) == list(s)


def test_gif_gray_roundtrip_exact_and_dispatch(spark):
    """Grayscale GIFs roundtrip pixel-exact (lossless contract) and
    resize_media dispatches the real GIF path."""
    import numpy as np

    from clinical_bi_spark.operators.gif import decode_gif, encode_gif_gray
    from clinical_bi_spark.operators.multimodal import resize_media

    rng = np.random.RandomState(9)
    g = rng.randint(0, 256, (16, 16), dtype=np.uint8)
    data = encode_gif_gray(g)
    assert sniff_media_type(data) == "image/gif"
    assert parse_dimensions(data) == (16, 16)
    back = decode_gif(data)
    assert (back[..., 0] == g).all() and (back[..., 2] == g).all()

    df = spark.createDataFrame(
        [(1, bytearray(data))], "asset_id long, media binary"
    )
    out = resize_media(df, target_width=8, target_height=8).collect()[0]
    small = decode_gif(bytes(out["resized"]))
    assert (small[..., 0] == g[::2, ::2]).all()


def test_resize_media_survives_malformed_codec_assets(spark):
    """One corrupt asset must not kill the job: truncated/garbled
    PNG/JPEG/GIF payloads (whose failure modes span struct.error,
    zlib.error, IndexError — not just ValueError) fall through to the
    byte-downsample path."""
    import numpy as np

    from clinical_bi_spark.operators.gif import encode_gif_gray
    from clinical_bi_spark.operators.jpeg import encode_jpeg
    from clinical_bi_spark.operators.multimodal import (
        encode_png,
        resize_media,
    )

    img = np.zeros((16, 16, 3), dtype=np.uint8)
    png, jpg = encode_png(img), encode_jpeg(img)
    gif = encode_gif_gray(img)
    rows = [
        (1, bytearray(png[:30])),          # PNG truncated mid-IHDR
        (2, bytearray(png[:40] + b"garbagegarbage")),  # corrupt IDAT
        (3, bytearray(jpg[: len(jpg) // 2])),  # JPEG cut in the scan
        (4, bytearray(gif[:20])),          # GIF truncated in the palette
        (5, bytearray(png)),               # one GOOD asset alongside
    ]
    df = spark.createDataFrame(rows, "asset_id long, media binary")
    out = {r["asset_id"]: r for r in resize_media(df, target_width=8, target_height=8).collect()}
    assert len(out) == 5                    # nothing killed the job
    assert out[5]["resized_bytes"] > 0      # good asset took the codec path
    for k in (1, 2, 3, 4):
        assert out[k]["resized_bytes"] <= 64  # fell to byte-downsample


def test_gif89a_with_extension_blocks_decodes():
    """Real-world GIFs are GIF89a with extension blocks (graphic control,
    comments) before the image descriptor — the decoder must skip their
    sub-block chains and still land on the pixel data."""
    import numpy as np

    from clinical_bi_spark.operators.gif import decode_gif, encode_gif_gray

    g = np.arange(64, dtype=np.uint8).reshape(8, 8) * 3
    data = bytearray(encode_gif_gray(g))
    # upgrade to 89a and splice extensions after the palette (offset 13+768)
    data[:6] = b"GIF89a"
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"          # graphic control
    comment = b"\x21\xfe\x05hello\x00"                  # comment extension
    cut = 13 + 768
    patched = bytes(data[:cut]) + gce + comment + bytes(data[cut:])
    back = decode_gif(patched)
    assert (back[..., 0] == g).all()


def test_gif_gray_encoder_rejects_color_input():
    import numpy as np
    import pytest

    from clinical_bi_spark.operators.gif import encode_gif_gray

    rgb = np.zeros((4, 4, 3), dtype=np.uint8)
    rgb[0, 0] = (10, 20, 30)  # not gray
    with pytest.raises(ValueError, match="R==G==B"):
        encode_gif_gray(rgb)


def test_wav_resample_codec_roundtrip_and_ratios():
    """encode → resample → decode: nearest-neighbor index mapping is exact
    for integral and non-integral ratios, mono and stereo, up and down."""
    import numpy as np

    from clinical_bi_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
        resample_wav_pcm16,
    )

    arr = (((np.arange(480) * 7 + 31) % 65536) - 32768).astype("<i2")
    wav = encode_wav_pcm16(arr, 48000)
    back, rate = decode_wav_pcm16(wav)
    assert rate == 48000 and (back[:, 0] == arr).all()
    for target in (16000, 18000, 44100, 96000):
        o, orate = decode_wav_pcm16(resample_wav_pcm16(wav, target))
        n_out = (480 * target) // 48000
        assert orate == target and o.shape == (n_out, 1)
        idx = (np.arange(n_out, dtype="int64") * 48000) // target
        assert (o[:, 0] == arr[idx]).all()
    stereo = np.stack([arr, -arr - 1], axis=1).astype("<i2")
    o2, r2 = decode_wav_pcm16(resample_wav_pcm16(encode_wav_pcm16(stereo, 44100), 22050))
    assert r2 == 22050 and (o2 == stereo[(np.arange(240) * 44100) // 22050]).all()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        resample_wav_pcm16(wav, 0)


def test_resample_audio_mixed_corpus_nulls(spark):
    """Non-WAV, NULL, and malformed-WAV rows yield NULL through the Arrow
    path; WAV rows resample byte-exactly."""
    import numpy as np

    from clinical_bi_spark.operators.multimodal import (
        encode_wav_pcm16,
        resample_audio,
        resample_wav_pcm16,
    )

    arr = (np.arange(96, dtype="int64") % 65536 - 32768).astype("<i2")
    wav = encode_wav_pcm16(arr, 48000)
    truncated = wav[:30]  # RIFF/WAVE magic intact, fmt chunk cut mid-way
    rows = [
        (1, bytearray(wav)),
        (2, bytearray(b"GIF89a123456")),
        (3, None),
        (4, bytearray(truncated)),
    ]
    df = spark.createDataFrame(rows, "asset_id long, media binary")
    out = {r.asset_id: r.resampled for r in resample_audio(df, 16000).collect()}
    assert bytes(out[1]) == resample_wav_pcm16(wav, 16000)
    assert out[2] is None and out[3] is None and out[4] is None


def test_audio_resample_query_matches_oracle(spark, oracle_con):
    """The parked (earliest-r16) candidate, adjudicated driver-style —
    output file hex-exact including the 44-byte header."""
    from clinical_bi_spark.queries.multimodalops import (
        _AUDIO_RESAMPLE_ORACLE,
        multimodal_audio_resample,
    )
    from tests.conftest import assert_matches_oracle

    df = multimodal_audio_resample(spark, SF_ORACLE)
    assert_matches_oracle(
        df, oracle_con, _AUDIO_RESAMPLE_ORACLE, name="multimodal_audio_resample"
    )


def test_extract_image_patches_real_codec_and_filters(spark):
    """Patchify through the real codecs: PPM and BMP decode to the same
    pixels, so their patches agree; non-multiple dimensions, undecodable
    formats, and NULLs emit nothing; patch=0 is rejected loudly."""
    import numpy as np

    from clinical_bi_spark.operators.multimodal import (
        encode_bmp,
        encode_ppm,
        extract_image_patches,
    )

    img = ((np.arange(16 * 16 * 3) * 13 + 5) % 256).astype(np.uint8).reshape(
        16, 16, 3
    )
    odd = img[:15, :, :]  # 15 rows: not a multiple of 8
    rows = [
        (1, bytearray(encode_ppm(img))),
        (2, bytearray(encode_bmp(img))),
        (3, bytearray(encode_ppm(odd))),
        (4, bytearray(b"GIF89a123456")),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "asset_id long, media binary")
    out = extract_image_patches(df, patch=8).collect()
    got = {
        (r.asset_id, r.patch_row, r.patch_col): (bytes(r.patch), r.pixel_sum)
        for r in out
    }
    assert {a for a, _, _ in got} == {1, 2}
    for pr in range(2):
        for pc in range(2):
            tile = img[pr * 8 : pr * 8 + 8, pc * 8 : pc * 8 + 8]
            expect = (tile.tobytes(), int(tile.astype(np.int64).sum()))
            assert got[(1, pr, pc)] == expect
            assert got[(2, pr, pc)] == expect  # BMP roundtrip == PPM

    import pytest as _pytest

    with _pytest.raises(ValueError):
        extract_image_patches(df, patch=0)


def test_image_patches_query_matches_oracle(spark, oracle_con):
    """The parked (earliest-r16) vision-prep candidate, adjudicated
    driver-style — every patch byte-exact plus its integer pixel sum."""
    from clinical_bi_spark.queries.multimodalops import (
        _PATCHES_ORACLE,
        multimodal_image_patches,
    )
    from tests.conftest import assert_matches_oracle

    df = multimodal_image_patches(spark, SF_ORACLE)
    assert_matches_oracle(
        df, oracle_con, _PATCHES_ORACLE, name="multimodal_image_patches"
    )


def test_formula_media_builders_are_closed_form():
    """The PPM, BMP and WAV builders behind the formula-media queries emit
    exactly their header plus the closed-form bytes, for every row of one
    vectorized call (doc_id >= 0, including one past 32 bits), and the
    real codecs decode them back to the formula pixels and samples."""
    import numpy as np

    from clinical_bi_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        decode_wav_pcm16,
    )
    from clinical_bi_spark.queries.multimodalops import (
        _bmp_media,
        _ppm_media,
        _wav_media,
    )

    doc_ids = [0, 1, 255, 256, 499, 2**40]
    ids = np.array(doc_ids, dtype=np.int64)
    ppm, bmp, wav = _ppm_media(ids), _bmp_media(ids), _wav_media(ids)
    bmp_header = (
        b"BM"
        + struct.pack("<IHHI", 54 + 768, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 16, 16, 1, 24, 0, 768, 0, 0, 0, 0)
    )
    wav_header = (
        b"RIFF" + struct.pack("<I", 36 + 960) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 48000, 96000, 2, 16)
        + b"data" + struct.pack("<I", 960)
    )
    for k, d in enumerate(doc_ids):

        def px(x, y, c):
            return (d * 7 + y * 31 + x * 5 + c * 11) % 256

        rgb = [[[px(x, y, c) for c in range(3)] for x in range(16)]
               for y in range(16)]
        samples = [(d * 31 + i * 7) % 65536 - 32768 for i in range(480)]

        assert ppm[k] == b"P6\n16 16\n255\n" + bytes(
            px(x, y, c) for y in range(16) for x in range(16) for c in range(3)
        )
        assert bmp[k] == bmp_header + bytes(
            px(x, 15 - r, 2 - b)
            for r in range(16) for x in range(16) for b in range(3)
        )
        assert wav[k] == wav_header + struct.pack("<480h", *samples)

        assert decode_ppm(ppm[k]).tolist() == rgb
        assert decode_bmp(bmp[k]).tolist() == rgb
        got, rate = decode_wav_pcm16(wav[k])
        assert rate == 48000 and got[:, 0].tolist() == samples
