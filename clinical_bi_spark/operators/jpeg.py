"""Pure-Python baseline JPEG codec (SOF0, 4:4:4, interleaved, JFIF).

Closes the last lossy-codec stub WITHOUT native libraries: encode does
RGB→YCbCr, 8×8 orthonormal DCT (numpy), quality-scaled Annex-K
quantization, zigzag, differential-DC + run-length-AC Huffman coding
with byte stuffing; decode parses DQT/SOF0/DHT/SOS and inverts every
step. The decoder builds its Huffman/quant tables FROM THE FILE's own
DQT/DHT segments via the same canonical-code constructor the encoder
uses — so encoder/decoder consistency is structural, not
table-transcription luck, and any standards-compliant reader accepts the
output (tables ship in the file, as the spec requires).

Lossy by construction: roundtrip exactness is impossible, so tests pin
error bounds (flat blocks near-exact, natural-smooth images within a few
intensities) plus analytic invariants (DCT of a constant block is
DC-only; the SOF0 header parses with the independent
``multimodal.parse_dimensions``); the registry query is rows-only with
those tests as its designated check — the same contract as the other
approximate-by-construction ops.

No subsampling (h=v=1 for all three components): simplest correct
baseline, and resize quality concerns stay in the resample step.
"""

from __future__ import annotations

import struct

# zigzag index order: zigzag[i] = position in row-major 8x8 of the i-th
# zigzag coefficient
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex-K base quantization tables (quality 50)
_Q_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_Q_CHROM = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex-K "typical" Huffman specs: (bits-per-length[1..16], symbols).
# Transcription risk is contained by construction: the encoder USES the
# canonical codes built from these specs AND writes the same specs into
# DHT, and the decoder rebuilds from DHT — a transcription slip would
# still roundtrip (both sides derive from the same data); it would only
# make compression marginally non-standard, never incorrect.
_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROM = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical JPEG assignment. The SAME
    constructor serves the encoder (from the specs above) and the decoder
    (from the file's DHT) — consistency by shared code path."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _dct_matrix():
    import numpy as np

    n = np.arange(8)
    c = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    c[0] *= 1 / np.sqrt(2)
    return c * 0.5  # orthonormal: C @ block @ C.T


#: The one encode quality (IJG scale); at >= 50 the base tables scale
#: by 200 - 2 * quality percent.
_QUALITY = 90


def _quality_tables():
    import numpy as np

    scale = 200 - 2 * _QUALITY
    out = []
    for base in (_Q_LUM, _Q_CHROM):
        q = (np.array(base, dtype=np.int64) * scale + 50) // 100
        out.append(np.clip(q, 1, 255).astype(np.int32))
    return out  # zigzag-order flat arrays of 64


def _rgb_to_ycbcr(arr):
    import numpy as np

    r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(arr):
    import numpy as np

    y, cb, cr = arr[..., 0], arr[..., 1] - 128.0, arr[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # unstuff
                else:
                    raise EOFError("marker inside entropy stream")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _encode_value(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (size, amplitude-bits)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _decode_value(size: int, raw: int) -> int:
    if size == 0:
        return 0
    if raw < 1 << (size - 1):
        return raw - (1 << size) + 1
    return raw


def encode_jpeg(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF JPEG bytes (4:4:4) at quality
    ``_QUALITY``."""
    import numpy as np

    a = np.asarray(arr, dtype=np.float64)
    h, w = a.shape[0], a.shape[1]
    ycc = _rgb_to_ycbcr(a) - 128.0
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.empty((ph, pw, 3))
    padded[:h, :w] = ycc
    padded[h:, :w] = ycc[h - 1 : h, :]  # edge replicate
    padded[:, w:] = padded[:, w - 1 : w]

    qts = _quality_tables()
    dctm = _dct_matrix()
    zz = np.array(_ZIGZAG)
    huff = {
        "dc": [_canonical_codes(*_DC_LUM), _canonical_codes(*_DC_CHROM)],
        "ac": [_canonical_codes(*_AC_LUM), _canonical_codes(*_AC_CHROM)],
    }

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for comp in range(3):
                t = 0 if comp == 0 else 1
                block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, comp]
                coef = dctm @ block @ dctm.T
                # quant tables are stored zigzag-order; index by zigzag
                flat = coef.reshape(64)[zz]
                q = np.round(flat / qts[t]).astype(np.int64)
                dc_diff = int(q[0]) - prev_dc[comp]
                prev_dc[comp] = int(q[0])
                size, bits = _encode_value(dc_diff)
                code, length = huff["dc"][t][size]
                bw.write(code, length)
                if size:
                    bw.write(bits, size)
                run = 0
                last_nz = 0
                nz = np.nonzero(q[1:])[0]
                last_nz = (nz[-1] + 1) if len(nz) else 0
                for i in range(1, last_nz + 1):
                    v = int(q[i])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, length = huff["ac"][t][0xF0]  # ZRL
                        bw.write(code, length)
                        run -= 16
                    size, bits = _encode_value(v)
                    code, length = huff["ac"][t][(run << 4) | size]
                    bw.write(code, length)
                    bw.write(bits, size)
                    run = 0
                if last_nz < 63:
                    code, length = huff["ac"][t][0x00]  # EOB
                    bw.write(code, length)
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, qt in enumerate(qts):
        out += seg(0xFFDB, bytes([tid]) + bytes(int(x) for x in qt))
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    for tc_th, spec in (
        (0x00, _DC_LUM), (0x10, _AC_LUM), (0x01, _DC_CHROM), (0x11, _AC_CHROM)
    ):
        bits, values = spec
        out += seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(values))
    out += seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def decode_jpeg(data: bytes):
    """Baseline JFIF JPEG bytes -> (h, w, 3) uint8 RGB. Tables come from
    the file's own DQT/DHT segments; only SOF0 / 4:4:4 / single
    interleaved scan is supported (what :func:`encode_jpeg` emits)."""
    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[int, dict] = {}
    h = w = None
    comp_spec = []  # (comp_id, qtable_id)
    scan_spec = []  # (comp_id, dc_table, ac_table)
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = struct.unpack(">H", data[pos : pos + 2])[0]
        if marker == 0xFFD9:
            break
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + length]
        if marker == 0xFFDB:
            i = 0
            while i < len(body):
                pq_tq = body[i]
                if pq_tq >> 4 != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qtables[pq_tq & 0xF] = np.frombuffer(
                    body, dtype=np.uint8, count=64, offset=i + 1
                ).astype(np.int32)
                i += 65
        elif marker == 0xFFC4:
            i = 0
            while i < len(body):
                tc_th = body[i]
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                values = list(body[i + 17 : i + 17 + n])
                codes = _canonical_codes(bits, values)
                # invert: (length, code) -> symbol for decoding
                htables[tc_th] = {(l, c): s for s, (c, l) in codes.items()}
                i += 17 + n
        elif marker == 0xFFC0:
            depth, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if depth != 8 or ncomp != 3:
                raise ValueError("only 8-bit 3-component SOF0 supported")
            for c in range(3):
                cid, sampling, tq = body[6 + c * 3 : 9 + c * 3]
                if sampling != 0x11:
                    raise ValueError("only 4:4:4 (no subsampling) supported")
                comp_spec.append((cid, tq))
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3):
            raise ValueError("only baseline SOF0 supported")
        elif marker == 0xFFDA:
            ns = body[0]
            for c in range(ns):
                cid, tables = body[1 + c * 2 : 3 + c * 2]
                scan_spec.append((cid, tables >> 4, tables & 0xF))
            pos = pos + 2 + length
            break
        pos = pos + 2 + length
    if h is None or not scan_spec:
        raise ValueError("JPEG missing SOF/SOS")

    def read_symbol(br: _BitReader, table: dict) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | br.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    dctm = _dct_matrix()
    zz = np.array(_ZIGZAG)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    planes = np.zeros((ph, pw, 3))
    br = _BitReader(data, pos)
    prev_dc = [0, 0, 0]
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for comp in range(3):
                _, dc_t, ac_t = scan_spec[comp]
                qt = qtables[comp_spec[comp][1]]
                dc_tab = htables[0x00 | dc_t]
                ac_tab = htables[0x10 | ac_t]
                q = np.zeros(64, dtype=np.int64)
                size = read_symbol(br, dc_tab)
                diff = _decode_value(size, br.read_bits(size) if size else 0)
                prev_dc[comp] += diff
                q[0] = prev_dc[comp]
                i = 1
                while i < 64:
                    sym = read_symbol(br, ac_tab)
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        i += 16
                        continue
                    run, size = sym >> 4, sym & 0xF
                    i += run
                    if i > 63:
                        raise ValueError("AC run past block end")
                    q[i] = _decode_value(size, br.read_bits(size))
                    i += 1
                flat = np.zeros(64)
                flat[zz] = q * qt  # dequantize, inverse zigzag
                block = dctm.T @ flat.reshape(8, 8) @ dctm
                planes[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, comp] = block
    rgb = _ycbcr_to_rgb(planes[:h, :w] + 128.0)
    return np.round(rgb).clip(0, 255).astype(np.uint8)


def resize_jpeg(data: bytes, target_width: int, target_height: int) -> bytes:
    """Real lossy-codec resize: entropy-decode → IDCT → nearest-neighbor
    resample → re-encode."""
    from clinical_bi_spark.operators.multimodal import _resample_nearest

    return encode_jpeg(
        _resample_nearest(decode_jpeg(data), target_width, target_height)
    )
