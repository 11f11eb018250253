"""Pure-Python GIF87a codec (palette-based, LZW).

The fifth real image codec, and the second compressed one after PNG —
this one exercising a completely different compression family (LZW
dictionary coding, LSB-first bit packing) and pixel model (indexed
palette). Unlike JPEG, GIF is LOSSLESS for images whose colors fit the
palette: with the 256-entry grayscale palette used by the registry
query, decode∘encode is pixel-exact, so the resize query gets a FULL
exact oracle (same contract as PNG's pixel-level one).

Decoder is a complete GIF87a/89a reader for a single image with a global
color table: it implements real LZW with growing code widths and
dictionary rebuild on CLEAR — not just the degenerate stream the encoder
emits. Encoder uses the classic "uncompressed GIF" scheme (literal codes
with a CLEAR before the width would grow), which is valid LZW that every
conforming decoder accepts; the decoder's dictionary paths still run on
it because entries accrete between CLEARs.
"""

from __future__ import annotations

import struct

_GRAY_PALETTE = bytes(v for v in range(256) for _ in range(3))


class _LSBBitWriter:
    """GIF packs codes little-endian: least-significant bit first."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> None:
        if self.nbits:
            self.buf.append(self.acc & 0xFF)
            self.acc, self.nbits = 0, 0


class _LSBBitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, width: int) -> int:
        while self.nbits < width:
            if self.pos >= len(self.data):
                raise ValueError("LZW stream truncated")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.nbits -= width
        return v


def _lzw_encode_literal(indices, min_code_size: int) -> bytes:
    """Valid LZW via the uncompressed-GIF scheme: CLEAR, then literal
    root codes, re-CLEARing before the decoder's dictionary would force
    a code-width change. Every conforming decoder accepts it."""
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    # after a CLEAR the decoder adds one dict entry per code read (from
    # the second code on); stay strictly below the 2^width boundary
    budget = (1 << width) - end - 2
    bw = _LSBBitWriter()
    bw.write(clear, width)
    since_clear = 0
    for ix in indices:
        if since_clear >= budget:
            bw.write(clear, width)
            since_clear = 0
        bw.write(int(ix), width)
        since_clear += 1
    bw.write(end, width)
    bw.flush()
    return bytes(bw.buf)


def _lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """Full GIF LZW decode: growing code widths (to 12 bits), dictionary
    rebuild on CLEAR, and the KwKwK self-referential case."""
    clear = 1 << min_code_size
    end = clear + 1
    br = _LSBBitReader(data)
    out: list[int] = []
    table: list[list[int]] = []
    width = min_code_size + 1
    prev: list[int] | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [[i] for i in range(clear)] + [[], []]
        width = min_code_size + 1
        prev = None

    reset()
    while True:
        code = br.read(width)
        if code == clear:
            reset()
            continue
        if code == end:
            return out
        if code < len(table) and (code < clear or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + [prev[0]]  # KwKwK
        else:
            raise ValueError(f"bad LZW code {code}")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + [entry[0]])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def encode_gif_gray(arr) -> bytes:
    """(h, w) or (h, w, 3) uint8 array → GIF87a bytes with the identity
    grayscale global palette. 3-channel input must already be gray
    (R==G==B) — the lossless contract; raise otherwise."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 3:
        if not ((a[..., 0] == a[..., 1]).all() and (a[..., 1] == a[..., 2]).all()):
            raise ValueError("encode_gif_gray requires R==G==B input")
        a = a[..., 0]
    h, w = a.shape
    out = bytearray(b"GIF87a")
    # logical screen: global color table, 8 bits/pixel, 256 entries
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += _GRAY_PALETTE
    out += b"," + struct.pack("<HHHHB", 0, 0, w, h, 0)  # image descriptor
    out.append(8)  # LZW minimum code size
    lzw = _lzw_encode_literal(a.reshape(-1), 8)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00;"  # block terminator + trailer
    return bytes(out)


def decode_gif(data: bytes):
    """GIF87a/89a bytes → (h, w, 3) uint8 RGB via the global color table.
    Single-image, no interlace, no local palettes — the subset the
    training-pipeline synthesis uses; real LZW throughout."""
    import numpy as np

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    if not flags & 0x80:
        raise ValueError("GIF without a global color table unsupported")
    gct_size = 2 << (flags & 0x07)
    palette = np.frombuffer(
        data, dtype=np.uint8, count=gct_size * 3, offset=pos
    ).reshape(gct_size, 3)
    pos += gct_size * 3
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            ix, iy, iw, ih, iflags = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
            if iflags & 0xC0:
                raise ValueError("local palettes / interlace unsupported")
            pos += 10
            mcs = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos] != 0:
                n = data[pos]
                lzw += data[pos + 1 : pos + 1 + n]
                pos += 1 + n
            indices = _lzw_decode(bytes(lzw), mcs)
            if len(indices) != iw * ih:
                raise ValueError("GIF pixel count mismatch")
            idx = np.array(indices, dtype=np.int32).reshape(ih, iw)
            return palette[idx]
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    raise ValueError("GIF contains no image")


def resize_gif_gray(data: bytes, target_width: int, target_height: int) -> bytes:
    """Real GIF nearest-neighbor resize along the grayscale contract:
    LZW decode → resample → literal-LZW re-encode."""
    from clinical_bi_spark.operators.multimodal import _resample_nearest

    return encode_gif_gray(
        _resample_nearest(decode_gif(data), target_width, target_height)
    )
