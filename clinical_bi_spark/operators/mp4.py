"""ISO-BMFF (MP4) sample-table codec: writer + parser + keyframe extractor.

Narrows the one declared video stub (operators/multimodal.py: general
mp4/h264 *pixel* decode needs ffmpeg) to its true minimum: everything a
training-data video pipeline needs from an mp4 container SHORT of
entropy-decoding the codec bitstream is implemented here for real —

* a writer that lays down ``ftyp`` + ``mdat`` + a full ``moov`` tree
  (mvhd / trak / tkhd / mdia / mdhd / hdlr / minf / vmhd / dinf / stbl)
  with a complete sample table: ``stsd`` (visual sample entry), ``stts``
  (run-length decoding times), ``stss`` (sync samples — omitted when all
  samples are sync, per spec), ``stsz`` (sizes), ``stsc`` (run-length
  chunk map), ``stco`` (absolute chunk offsets);
* a parser that walks the box tree back and RECONSTRUCTS the per-sample
  index — DTS (cumulative stts), duration, size, sync flag (absent stss
  ⇒ all sync), and the absolute byte offset via stsc→stco expansion plus
  intra-chunk size sums — i.e. the inverse computation, not a replay of
  the writer's arithmetic;
* an Arrow-batched ``mapInPandas`` extractor that samples every n-th
  SYNC sample (keyframe) per asset and emits its payload bytes — the
  generator shape that feeds a downstream (external) frame decoder.

Box layout follows the public ISO/IEC 14496-12 spec. The reference
(nastacio/clinical-bi) has no video surface; this is extension work per
SURVEY.md §2 (multimodal columns). Pure Python + struct, no external
libraries.
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame

__all__ = [
    "encode_mp4",
    "parse_mp4_track",
    "extract_mp4_sync_samples",
]


def _box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + tag + body


def _full(tag: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(tag, struct.pack(">I", (version << 24) | flags) + body)


#: ftyp is a fixed 28-byte prefix, so the mdat payload always starts at
#: byte 36 (28 + the 8-byte mdat header) — the writer's stco offsets and
#: any engine-side expected-offset arithmetic both hang off this.
FTYP = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
MDAT_PAYLOAD_OFFSET = len(FTYP) + 8

#: hard ceiling on a track's declared sample count: the parser materializes O(n_samples)
#: sizes/durations/offsets lists pre-validation and a per-sample dict
#: list post-validation, and the dict list dominates (~300 B/sample —
#: at the old 2^22 cap a fixed=1 crafted asset could reach hundreds of
#: MB to ~1 GB before or despite rejection). 2^20 (~1M samples ≈ 2.4 h
#: at 120 fps) is still far past any real video track while bounding
#: the worst case to tens of MB for the int lists and ~300 MB for a
#: fully-consistent (i.e. genuinely declared) million-sample table.
#: ACCEPTED LIMIT for audio tracks: stsz counts codec
#: frames, not seconds — 1024-sample AAC at 44.1 kHz is ~43 frames/s,
#: so a legitimate audio track longer than ~6.7 h parses to None under
#: this cap. This engine's MP4 surface is the video sample-table walk
#: (hdlr 'vide' fixtures throughout); if long-audio assets enter scope,
#: make the cap per-handler ('soun' vs 'vide') rather than raising it
#: globally.
_MAX_SAMPLES = 1 << 20

#: The movie/media timescale (ticks per second) and the track's frame
#: size that :func:`encode_mp4` writes.
_TIMESCALE, _WIDTH, _HEIGHT = 30000, 64, 48


def _runlength(values: list[int]) -> list[tuple[int, int]]:
    """[v, v, w, ...] → [(count, v), (count, w), ...] preserving order."""
    runs: list[tuple[int, int]] = []
    for v in values:
        if runs and runs[-1][1] == v:
            runs[-1] = (runs[-1][0] + 1, v)
        else:
            runs.append((1, v))
    return runs


def encode_mp4(
    samples: list[bytes],
    durations: list[int],
    sync_flags: list[bool],
    *,
    samples_per_chunk: int = 3,
) -> bytes:
    """Sample payloads + per-sample metadata → a structurally valid
    single-video-track mp4 (``ftyp`` + ``mdat`` + ``moov``).

    ``mdat`` precedes ``moov`` so the 32-bit ``stco`` chunk offsets are
    independent of the moov size. Samples are grouped into chunks of
    ``samples_per_chunk`` (last chunk may be short — exercising a real
    two-entry ``stsc`` run map). When every sample is sync the ``stss``
    box is omitted, which per spec means "all samples are sync" — the
    parser honors that reading.
    """
    n = len(samples)
    if not (n and n == len(durations) == len(sync_flags)):
        raise ValueError("samples/durations/sync_flags must align, non-empty")
    if not sync_flags[0]:
        raise ValueError("sample 1 must be a sync sample")
    if samples_per_chunk < 1:
        raise ValueError("samples_per_chunk must be >= 1")

    mdat = _box(b"mdat", b"".join(samples))
    sizes = [len(s) for s in samples]

    # chunk layout: counts per chunk, then absolute first-sample offsets
    chunk_counts = [
        min(samples_per_chunk, n - i) for i in range(0, n, samples_per_chunk)
    ]
    offsets: list[int] = []
    pos = MDAT_PAYLOAD_OFFSET
    consumed = 0
    for count in chunk_counts:
        offsets.append(pos)
        pos += sum(sizes[consumed : consumed + count])
        consumed += count

    total_dur = sum(durations)

    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, _TIMESCALE, total_dur)
        + struct.pack(">IH", 0x00010000, 0x0100)   # rate, volume
        + b"\x00" * 10                             # reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24                             # pre_defined
        + struct.pack(">I", 2),                    # next_track_id
    )
    tkhd = _full(
        b"tkhd", 0, 7,                             # enabled|in_movie|in_preview
        struct.pack(">IIIII", 0, 0, 1, 0, total_dur)
        + b"\x00" * 8                              # reserved
        + struct.pack(">HHHH", 0, 0, 0, 0)         # layer, alt, volume, rsvd
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", _WIDTH << 16, _HEIGHT << 16),
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, _TIMESCALE, total_dur)
        + struct.pack(">HH", 0x55C4, 0),           # language 'und'
    )
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00",
    )
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)

    sample_entry = _box(
        b"mp4v",
        b"\x00" * 6 + struct.pack(">H", 1)         # reserved, data_ref_index
        + struct.pack(">HH", 0, 0) + b"\x00" * 12  # pre_defined / reserved
        + struct.pack(">HH", _WIDTH, _HEIGHT)
        + struct.pack(">IIIH", 0x480000, 0x480000, 0, 1)
        + b"\x00" * 32                             # compressorname
        + struct.pack(">Hh", 24, -1),              # depth, pre_defined
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)

    stts_runs = _runlength(durations)
    stts = _full(
        b"stts", 0, 0,
        struct.pack(">I", len(stts_runs))
        + b"".join(struct.pack(">II", c, d) for c, d in stts_runs),
    )
    sync_numbers = [i + 1 for i, s in enumerate(sync_flags) if s]
    stss = b""
    if len(sync_numbers) < n:                      # all-sync ⇒ omit (spec)
        stss = _full(
            b"stss", 0, 0,
            struct.pack(">I", len(sync_numbers))
            + b"".join(struct.pack(">I", k) for k in sync_numbers),
        )
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    # stsc run map: (first_chunk, samples_per_chunk, sample_desc_index)
    stsc_entries: list[tuple[int, int, int]] = []
    for idx, count in enumerate(chunk_counts, start=1):
        if not stsc_entries or stsc_entries[-1][1] != count:
            stsc_entries.append((idx, count, 1))
    stsc = _full(
        b"stsc", 0, 0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(struct.pack(">III", *e) for e in stsc_entries),
    )
    stco = _full(
        b"stco", 0, 0,
        struct.pack(">I", len(offsets))
        + b"".join(struct.pack(">I", o) for o in offsets),
    )

    stbl = _box(b"stbl", stsd + stts + stss + stsz + stsc + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return FTYP + mdat + moov


def _iter_boxes(data: bytes, pos: int, end: int):
    """Yield (tag, body_start, body_end) walking one box level; handles
    64-bit largesize (size==1) and size==0 (extends to enclosing end)."""
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                return
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            return
        yield tag, body, pos + size
        pos += size


def _find(data: bytes, pos: int, end: int, tag: bytes):
    for t, b, e in _iter_boxes(data, pos, end):
        if t == tag:
            return b, e
    return None


def parse_mp4_track(data: bytes) -> dict | None:
    """Full box-tree walk → the first VIDEO track's sample index.

    Returns ``{"width", "height", "timescale", "duration", "samples"}``
    where each sample dict carries ``number`` (1-based), ``dts``,
    ``duration``, ``size``, ``offset`` (absolute file offset,
    reconstructed from stsc→stco expansion + intra-chunk size sums) and
    ``sync`` (absent stss ⇒ every sample sync). ``None`` when the bytes
    are not ISO-BMFF or hold no parseable video track.
    """
    if len(data) < 12 or data[4:8] != b"ftyp":
        return None
    moov = _find(data, 0, len(data), b"moov")
    if not moov:
        return None
    for tag, tb, te in _iter_boxes(data, *moov):
        if tag != b"trak":
            continue
        track = _parse_trak(data, tb, te)
        if track is not None:
            return track
    return None


def _parse_trak(data: bytes, tb: int, te: int) -> dict | None:
    width = height = None
    tkhd = _find(data, tb, te, b"tkhd")
    if tkhd and tkhd[0] < tkhd[1]:
        version = data[tkhd[0]]
        off = tkhd[0] + (88 if version == 1 else 76)
        if off + 8 <= tkhd[1]:
            w, h = struct.unpack(">II", data[off : off + 8])
            width, height = w >> 16, h >> 16
    mdia = _find(data, tb, te, b"mdia")
    if not mdia:
        return None
    hdlr = _find(data, *mdia, b"hdlr")
    if not hdlr or data[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
        return None
    mdhd = _find(data, *mdia, b"mdhd")
    if not mdhd or mdhd[0] >= mdhd[1]:
        return None
    version = data[mdhd[0]]
    # v1 bodies are 32+ bytes (64-bit times), v0 20+ — a shorter body is
    # corruption, returned as None per the dict-or-None contract
    if mdhd[0] + (32 if version == 1 else 20) > mdhd[1]:
        return None
    if version == 1:
        timescale, duration = struct.unpack(
            ">IQ", data[mdhd[0] + 20 : mdhd[0] + 32]
        )
    else:
        timescale, duration = struct.unpack(
            ">II", data[mdhd[0] + 12 : mdhd[0] + 20]
        )
    minf = _find(data, *mdia, b"minf")
    if not minf:
        return None
    stbl = _find(data, *minf, b"stbl")
    if not stbl:
        return None

    tables: dict[bytes, tuple[int, int]] = {}
    for tag, b, e in _iter_boxes(data, *stbl):
        tables[tag] = (b, e)
    for required in (b"stts", b"stsz", b"stsc", b"stco"):
        if required not in tables:
            return None

    def u32s(body: int, count: int, stride: int = 4) -> list[int]:
        return [
            struct.unpack(">I", data[body + i * stride : body + i * stride + 4])[0]
            for i in range(count)
        ]

    # Every table's declared entry count is validated against the box
    # body it claims to occupy BEFORE any allocation or unpack loop: a
    # corrupt-but-well-framed asset (bogus 2^32-ish count in a small box)
    # must degrade to None — the mixed-corpus-scan-is-a-filter contract —
    # not raise struct.error on a short slice or allocate count entries.

    # stsz → sizes (parsed first so sample count bounds the stts expand)
    b, e = tables[b"stsz"]
    if b + 12 > e:
        return None
    fixed, n_samples = struct.unpack(">II", data[b + 4 : b + 12])
    if fixed == 0 and b + 12 + 4 * n_samples > e:
        return None
    # the fixed-size branch's count is bounded by no box length, so cap
    # it by what the file could actually hold: each sample occupies
    # `fixed` non-overlapping bytes of payload, so fixed·n_samples can
    # never exceed the file size — and a hard sample ceiling bounds the
    # O(n_samples) sizes/durations/offsets/samples allocations for large
    # corrupt assets (a 100 MB asset could otherwise drive
    # ~100M-entry lists before downstream consistency checks reject it)
    if n_samples > _MAX_SAMPLES:
        return None
    if fixed and fixed * n_samples > len(data):
        return None
    if n_samples > len(data):
        return None
    sizes = [fixed] * n_samples if fixed else u32s(b + 12, n_samples)

    # stts → per-sample durations (run-length expand, capped at n_samples)
    b, e = tables[b"stts"]
    if b + 8 > e:
        return None
    (n_runs,) = struct.unpack(">I", data[b + 4 : b + 8])
    if b + 8 + 8 * n_runs > e:
        return None
    durations: list[int] = []
    for i in range(n_runs):
        count, delta = struct.unpack(
            ">II", data[b + 8 + i * 8 : b + 16 + i * 8]
        )
        if len(durations) + count > n_samples:
            return None
        durations.extend([delta] * count)
    if len(durations) != n_samples:
        return None

    # stss → sync set (absent ⇒ all sync, per spec)
    if b"stss" in tables:
        b, e = tables[b"stss"]
        if b + 8 > e:
            return None
        (n_sync,) = struct.unpack(">I", data[b + 4 : b + 8])
        if b + 8 + 4 * n_sync > e:
            return None
        sync = set(u32s(b + 8, n_sync))
    else:
        # absent stss ⇒ all samples sync: flag it instead of
        # materializing set(range(1, n_samples + 1)) — at the sample
        # ceiling that set alone is tens of MB of pure overhead
        sync = None

    # stsc runs + stco → per-sample absolute offsets
    b, e = tables[b"stco"]
    if b + 8 > e:
        return None
    (n_chunks,) = struct.unpack(">I", data[b + 4 : b + 8])
    if b + 8 + 4 * n_chunks > e:
        return None
    chunk_offsets = u32s(b + 8, n_chunks)
    b, e = tables[b"stsc"]
    if b + 8 > e:
        return None
    (n_entries,) = struct.unpack(">I", data[b + 4 : b + 8])
    if b + 8 + 12 * n_entries > e:
        return None
    runs = [
        struct.unpack(">III", data[b + 8 + i * 12 : b + 20 + i * 12])
        for i in range(n_entries)
    ]
    # spec: first_chunk is 1-based, strictly increasing, AND within the
    # stco chunk count. A corrupt 0 would expand per_chunk one entry past
    # chunk_offsets; a monotonic-but-out-of-range value (e.g. 5 with 3
    # chunks) would bound the PREVIOUS run's expansion past chunk_offsets
    # and index out of it below — and a huge one (0xFFFFFFF0) would
    # allocate a multi-GB per_chunk list BEFORE that raise, the
    # executor-OOM class the extract's IndexError belt cannot catch
    #.
    prev_first = 0
    for first, _spc, _sdi in runs:
        if first <= prev_first or first > n_chunks:
            return None
        prev_first = first
    per_chunk: list[int] = []
    for i, (first, spc, _sdi) in enumerate(runs):
        last = runs[i + 1][0] - 1 if i + 1 < len(runs) else n_chunks
        per_chunk.extend([spc] * (last - first + 1))
    offsets: list[int] = []
    sample_idx = 0
    for chunk, spc in enumerate(per_chunk):
        at = chunk_offsets[chunk]
        for _ in range(spc):
            if sample_idx >= n_samples:
                break
            offsets.append(at)
            at += sizes[sample_idx]
            sample_idx += 1
    if len(offsets) != n_samples:
        return None
    # every claimed (offset, size) range must lie inside the file: a
    # corrupt stco/stsz pointing past EOF filters the asset rather than
    # silently emitting a truncated payload with a full size_bytes claim
    if any(offsets[i] + sizes[i] > len(data) for i in range(n_samples)):
        return None

    dts = 0
    samples = []
    for i in range(n_samples):
        samples.append(
            {
                "number": i + 1,
                "dts": dts,
                "duration": durations[i],
                "size": sizes[i],
                "offset": offsets[i],
                "sync": sync is None or (i + 1) in sync,
            }
        )
        dts += durations[i]
    return {
        "width": width,
        "height": height,
        "timescale": timescale,
        "duration": duration,
        "samples": samples,
    }


def extract_mp4_sync_samples(df: DataFrame, every_n: int) -> DataFrame:
    """Keyframe sampling over mp4 assets: one output row per kept SYNC
    sample (every ``every_n``-th, 1st always kept), payload bytes sliced
    straight out of ``mdat`` by the reconstructed (offset, size) range.
    Assets that don't sniff/parse as mp4 emit nothing (a mixed-corpus
    scan degrades to a filter, not a failure). Arrow-batched
    ``mapInPandas``; per-asset work is independent, so the operator
    scales with the partition count — at 100 TB the payload column should
    be fingerprinted or written out immediately rather than carried
    through further wide stages (same contract as the AVI/MJPEG path).
    """
    import pandas as pd

    if every_n < 1:
        raise ValueError("every_n must be >= 1")

    schema = (
        "asset_id long, sample_number int, dts_ticks long, "
        "duration_ticks int, size_bytes int, byte_offset long, "
        "track_samples int, payload binary"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in (
                "id", "num", "dts", "dur", "size", "off", "total", "payload"
            )}
            for asset_id, media in zip(pdf["asset_id"], pdf["media"]):
                if media is None:
                    continue
                data = bytes(media)
                try:
                    track = parse_mp4_track(data)
                except (ValueError, struct.error, IndexError):
                    # belt over the parser's own bounds checks: any
                    # malformation they don't anticipate still degrades
                    # to skip-this-asset, never a task failure (same
                    # posture as resample_audio)
                    track = None
                if track is None:
                    continue
                total = len(track["samples"])
                kept = [s for s in track["samples"] if s["sync"]][::every_n]
                for s in kept:
                    rows["id"].append(asset_id)
                    rows["num"].append(s["number"])
                    rows["dts"].append(s["dts"])
                    rows["dur"].append(s["duration"])
                    rows["size"].append(s["size"])
                    rows["off"].append(s["offset"])
                    rows["total"].append(total)
                    rows["payload"].append(
                        data[s["offset"] : s["offset"] + s["size"]]
                    )
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(rows["id"], dtype="int64"),
                    "sample_number": pd.Series(rows["num"], dtype="int32"),
                    "dts_ticks": pd.Series(rows["dts"], dtype="int64"),
                    "duration_ticks": pd.Series(rows["dur"], dtype="int32"),
                    "size_bytes": pd.Series(rows["size"], dtype="int32"),
                    "byte_offset": pd.Series(rows["off"], dtype="int64"),
                    "track_samples": pd.Series(rows["total"], dtype="int32"),
                    "payload": rows["payload"],
                }
            )

    return df.mapInPandas(batches, schema=schema)
