"""ISO-BMFF sample-table codec tests (operators/mp4.py) and the parked
r13 query `multimodal_video_mp4_samples` — writer↔parser roundtrip
(property-based), spec edge cases (absent stss ⇒ all sync, 64-bit
largesize, short last chunk through the stsc run map), mixed-corpus
skip behavior, and the query-vs-oracle equality the driver will
adjudicate at registration."""

from __future__ import annotations

import struct

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from clinical_bi_spark.operators.mp4 import (
    FTYP,
    MDAT_PAYLOAD_OFFSET,
    encode_mp4,
    extract_mp4_sync_samples,
    parse_mp4_track,
)

SAMPLE = st.binary(min_size=1, max_size=80)
DUR = st.integers(min_value=1, max_value=5000)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(st.tuples(SAMPLE, DUR, st.booleans()), min_size=1, max_size=25),
    st.integers(min_value=1, max_value=5),
)
def test_mp4_roundtrip_property(spec, spc):
    """encode → parse reconstructs every per-sample fact exactly: number,
    dts (cumulative stts), duration, size, sync, and the absolute byte
    offset via the stsc→stco path — and the offset/size range slices the
    original payload back byte-for-byte."""
    samples = [s for s, _, _ in spec]
    durs = [d for _, d, _ in spec]
    syncs = [True] + [f for _, _, f in spec[1:]]  # sample 1 must be sync
    data = encode_mp4(samples, durs, syncs, samples_per_chunk=spc)
    track = parse_mp4_track(data)
    assert track is not None
    assert track["timescale"] == 30000
    assert track["duration"] == sum(durs)
    assert (track["width"], track["height"]) == (64, 48)
    assert len(track["samples"]) == len(samples)
    dts = 0
    offset = MDAT_PAYLOAD_OFFSET
    for i, s in enumerate(track["samples"]):
        assert s["number"] == i + 1
        assert s["dts"] == dts
        assert s["duration"] == durs[i]
        assert s["size"] == len(samples[i])
        assert s["offset"] == offset
        assert s["sync"] == syncs[i]
        assert data[s["offset"] : s["offset"] + s["size"]] == samples[i]
        dts += durs[i]
        offset += len(samples[i])


def test_mp4_all_sync_omits_stss_and_parser_honors_absence():
    data = encode_mp4([b"aa", b"bbb", b"cccc"], [10, 20, 30], [True] * 3)
    assert b"stss" not in data  # spec: absent stss ⇒ all samples sync
    track = parse_mp4_track(data)
    assert [s["sync"] for s in track["samples"]] == [True, True, True]


def test_mp4_short_last_chunk_gets_two_stsc_runs():
    """7 samples at 3/chunk → chunks of 3,3,1: the stsc run map must hold
    two entries and the parser must still land every offset."""
    samples = [bytes([65 + i]) * (i + 2) for i in range(7)]
    data = encode_mp4(
        samples, [100] * 7, [True] + [False] * 6, samples_per_chunk=3
    )
    # count stsc entries straight off the wire
    at = data.index(b"stsc") + 8
    (n_entries,) = struct.unpack(">I", data[at : at + 4])
    assert n_entries == 2
    track = parse_mp4_track(data)
    offset = MDAT_PAYLOAD_OFFSET
    for i, s in enumerate(track["samples"]):
        assert s["offset"] == offset
        assert data[s["offset"] : s["offset"] + s["size"]] == samples[i]
        offset += len(samples[i])


def test_mp4_parser_handles_64bit_largesize_moov():
    """A moov rewritten with size==1 + 64-bit largesize must parse
    identically (streaming muxers emit these on >4 GiB files)."""
    data = encode_mp4([b"xy", b"zw"], [5, 6], [True, False])
    at = data.index(b"moov") - 4
    (size,) = struct.unpack(">I", data[at : at + 4])
    rewritten = (
        data[:at]
        + struct.pack(">I", 1)
        + b"moov"
        + struct.pack(">Q", size + 8)
        + data[at + 8 :]
    )
    t0 = parse_mp4_track(data)
    t1 = parse_mp4_track(rewritten)
    assert t1 is not None and t1["samples"] == t0["samples"]


def test_mp4_rejects_malformed():
    assert parse_mp4_track(b"") is None
    assert parse_mp4_track(b"RIFF\x00\x00\x00\x00AVI ") is None
    # valid ftyp but no moov
    assert parse_mp4_track(FTYP + b"\x00" * 16) is None
    # every possible truncation must return None or a track, never raise
    data = encode_mp4([b"abc"], [10], [True])
    assert parse_mp4_track(data[: len(data) - 30]) is None
    for i in range(len(data)):
        parse_mp4_track(data[:i])


def _patch_u32(data: bytes, at: int, value: int) -> bytes:
    return data[:at] + struct.pack(">I", value) + data[at + 4 :]


def test_mp4_bogus_table_counts_degrade_to_none_not_error():
    """Corrupt-but-well-framed assets: every table's declared entry count
    is clamped against its box body BEFORE allocation or unpack — a
    2^32-ish count in a small box returns None (mixed-corpus filter
    contract), never struct.error and never a giant allocation."""
    data = encode_mp4(
        [b"k1", b"d2", b"k3"], [10, 20, 30], [True, False, True]
    )
    # counts live 8 bytes past each table's tag (verflags(4) + count(4));
    # stsz's layout is verflags(4) + fixed_size(4) + sample_count(4)
    for tag in (b"stts", b"stss", b"stsc", b"stco"):
        at = data.index(tag) + 8
        assert parse_mp4_track(_patch_u32(data, at, 0xFFFFFFF0)) is None
    at = data.index(b"stsz") + 12
    assert parse_mp4_track(_patch_u32(data, at, 0xFFFFFFF0)) is None
    # fixed-size stsz branch: no per-sample table bounds the count, so the
    # n_samples <= len(data) clamp must catch it
    at = data.index(b"stsz") + 8
    corrupt = _patch_u32(_patch_u32(data, at, 2), at + 4, 0xFFFFFFF0)
    assert parse_mp4_track(corrupt) is None
    # one stts run whose per-run count (not n_runs) is bogus: the
    # cumulative-durations-vs-n_samples guard fires before extending
    at = data.index(b"stts") + 12  # first run's sample_count
    assert parse_mp4_track(_patch_u32(data, at, 0xFFFFFFF0)) is None


def test_mp4_nonmonotonic_stsc_first_chunk_degrades_to_none():
    """stsc first_chunk is 1-based strictly increasing per spec; a
    corrupt 0 (which would expand the chunk map one past stco and index
    out of it) or a repeated value must return None, not raise."""
    data = encode_mp4(
        [bytes([65 + i]) * (i + 2) for i in range(7)],
        [100] * 7,
        [True] + [False] * 6,
        samples_per_chunk=3,  # 3,3,1 chunks -> two stsc runs
    )
    at = data.index(b"stsc") + 12  # first run's first_chunk field
    assert parse_mp4_track(_patch_u32(data, at, 0)) is None
    at2 = data.index(b"stsc") + 24  # second run's first_chunk field
    assert parse_mp4_track(_patch_u32(data, at2, 1)) is None


def test_mp4_out_of_range_stsc_first_chunk_degrades_to_none():
    """r13 ADVICE medium: a MONOTONIC but out-of-range first_chunk bounds
    the PREVIOUS run's expansion past chunk_offsets — first_chunk=5 with
    n_chunks=3 grew per_chunk to 4 entries and raised IndexError; a huge
    value (0xFFFFFFF0) allocated a multi-GB per_chunk list BEFORE the
    raise. Both must return None under the dict-or-None contract."""
    data = encode_mp4(
        [bytes([65 + i]) * (i + 2) for i in range(7)],
        [100] * 7,
        [True] + [False] * 6,
        samples_per_chunk=3,  # 3,3,1 chunks -> two stsc runs, n_chunks=3
    )
    at2 = data.index(b"stsc") + 24  # second run's first_chunk field
    assert parse_mp4_track(_patch_u32(data, at2, 5)) is None  # n_chunks + 2
    assert parse_mp4_track(_patch_u32(data, at2, 0xFFFFFFF0)) is None


def test_mp4_fixed_stsz_count_capped_before_materializing():
    """r13 ADVICE low: the fixed-size stsz branch's sample count is
    bounded by no box length, so a corrupt count that passes the old
    n_samples <= len(data) gate could still drive O(n_samples) list
    allocations several times the asset size. The mdat-payload bound
    (fixed x n_samples <= file bytes) and the hard _MAX_SAMPLES ceiling
    must both reject before materializing."""
    data = encode_mp4([b"k1", b"d2"], [10, 10], [True, False])
    at = data.index(b"stsz") + 8  # fixed sample_size field (count at +12)
    # fixed=64, count=600: 600 <= len(data) passes the old gate, but
    # 64*600 = 38400 bytes cannot fit a ~700-byte file
    corrupt = _patch_u32(_patch_u32(data, at, 64), at + 4, 600)
    assert parse_mp4_track(corrupt) is None
    # count past the hard ceiling (fixed=0 keeps the mdat bound moot but
    # the per-entry box-body gate already rejects; pin the fixed branch)
    corrupt2 = _patch_u32(_patch_u32(data, at, 1), at + 4, (1 << 20) + 1)
    assert parse_mp4_track(corrupt2) is None


def test_mp4_offsets_past_eof_filter_the_asset():
    """A stco pointing past EOF must reject the track rather than emit a
    truncated payload whose size_bytes still reports the claimed size."""
    data = encode_mp4([b"k1", b"d2"], [10, 10], [True, False])
    at = data.index(b"stco") + 12  # first chunk offset
    assert parse_mp4_track(_patch_u32(data, at, len(data) - 1)) is None


def test_extract_skips_corrupt_assets_keeps_good(spark):
    """One corrupt asset in a partition must not kill the Spark task or
    suppress the healthy assets around it."""
    good = encode_mp4([b"k1", b"d2", b"k3"], [10, 10, 10], [True, False, True])
    bad_count = _patch_u32(good, good.index(b"stts") + 8, 0xFFFFFFF0)
    bad_eof = _patch_u32(good, good.index(b"stco") + 12, len(good))
    df = spark.createDataFrame(
        [(1, bytearray(bad_count)), (2, bytearray(good)), (3, bytearray(bad_eof))],
        "asset_id long, media binary",
    )
    out = extract_mp4_sync_samples(df, every_n=1).collect()
    assert sorted((r.asset_id, r.sample_number) for r in out) == [(2, 1), (2, 3)]


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(
            # offset seed range must cover the WHOLE fixture (the %-wrap
            # handles overshoot): the r13 draw capped at 400 on a 691-byte
            # fixture, so the stsz/stsc/stco region (~byte 631 on) was
            # never mutated — exactly the blind spot that let the stsc
            # out-of-range first_chunk IndexError survive this pin
            # (r13 ADVICE low).
            st.integers(min_value=0, max_value=2048),  # mutation offset seed
            st.integers(min_value=0, max_value=255),  # replacement byte
        ),
        min_size=1,
        max_size=8,
    )
)
def test_mp4_parser_never_raises_on_mutated_bytes(mutations):
    """Contract pin for the r13 hardening: parse_mp4_track returns a
    track dict or None under ARBITRARY byte corruption — never an
    exception — so a mixed corpus degrades to a filter even for
    malformations the explicit bounds checks didn't anticipate."""
    data = bytearray(
        encode_mp4(
            [b"k1", b"d2", b"k3", b"d4"],
            [10, 20, 30, 40],
            [True, False, True, False],
            samples_per_chunk=3,
        )
    )
    for off_seed, byte in mutations:
        data[off_seed % len(data)] = byte
    out = parse_mp4_track(bytes(data))
    assert out is None or isinstance(out, dict)
    # corruption + truncation composed: still dict-or-None, never raise
    cut = len(data) - 1 - (mutations[0][0] % len(data))
    out2 = parse_mp4_track(bytes(data[:cut]))
    assert out2 is None or isinstance(out2, dict)


def test_mp4_first_sample_must_be_sync_and_inputs_align():
    with pytest.raises(ValueError):
        encode_mp4([b"a"], [1], [False])
    with pytest.raises(ValueError):
        encode_mp4([b"a", b"b"], [1], [True, True])
    with pytest.raises(ValueError):
        encode_mp4([], [], [])


def test_extract_skips_non_mp4_assets(spark):
    """Mixed corpus: non-mp4 and NULL media rows emit nothing (filter,
    not failure); mp4 rows emit their every_n-th sync samples."""
    mp4 = encode_mp4(
        [b"k1", b"d2", b"k3", b"d4", b"k5"],
        [10, 10, 10, 10, 10],
        [True, False, True, False, True],
    )
    df = spark.createDataFrame(
        [(1, bytearray(mp4)), (2, bytearray(b"GIF89a123456")), (3, None)],
        "asset_id long, media binary",
    )
    out = extract_mp4_sync_samples(df, every_n=2).collect()
    assert sorted(r.sample_number for r in out) == [1, 5]
    assert all(r.asset_id == 1 for r in out)
    by_num = {r.sample_number: r for r in out}
    assert bytes(by_num[1].payload) == b"k1"
    assert bytes(by_num[5].payload) == b"k5"
    assert by_num[5].byte_offset == MDAT_PAYLOAD_OFFSET + 8
    assert by_num[5].dts_ticks == 40
    assert all(r.track_samples == 5 for r in out)


def test_mp4_samples_query_matches_oracle(spark, oracle_con):
    """The parked r13 candidate, adjudicated exactly as the driver will:
    row count + dtype categories + order-insensitive typed values."""
    from clinical_bi_spark.queries.multimodalops import (
        _MP4_SAMPLES_ORACLE,
        multimodal_video_mp4_samples,
    )
    from tests.conftest import SF_ORACLE, assert_matches_oracle

    df = multimodal_video_mp4_samples(spark, SF_ORACLE)
    assert_matches_oracle(
        df, oracle_con, _MP4_SAMPLES_ORACLE, name="multimodal_video_mp4_samples"
    )


def test_mp4_mjpeg_end_to_end_real_decode(spark):
    """Container + codec composability: an ISO-BMFF file whose samples are
    REAL baseline JPEGs (operators/jpeg.py) round-trips END TO END — the
    sample-table walk reconstructs keyframe byte ranges, the extractor
    slices the payloads through the Arrow path, and decode_jpeg recovers
    pixels within the codec's documented smooth-image error bounds. With
    this, MJPEG-in-MP4 is fully real (writer, sample table, extraction,
    pixel decode); only the h264 entropy decode itself stays stubbed."""
    import numpy as np

    from clinical_bi_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from clinical_bi_spark.operators.mp4 import (
        encode_mp4,
        extract_mp4_sync_samples,
    )

    y, x = np.meshgrid(np.arange(24), np.arange(16), indexing="ij")
    frames = [
        np.stack(
            [(y * 3 + k * 7) % 256, (x * 5 + k) % 256, ((x + y) * 2) % 256],
            axis=-1,
        ).astype(np.uint8)
        for k in range(5)
    ]
    jpegs = [encode_jpeg(f) for f in frames]
    mp4 = encode_mp4(
        jpegs,
        durations=[1000] * 5,
        sync_flags=[True, False, True, False, True],
        samples_per_chunk=2,
    )
    df = spark.createDataFrame(
        [(7, bytearray(mp4))], "asset_id long, media binary"
    )
    out = {
        r.sample_number: bytes(r.payload)
        for r in extract_mp4_sync_samples(df, every_n=1).collect()
    }
    assert sorted(out) == [1, 3, 5]
    for num, payload in out.items():
        assert payload == jpegs[num - 1]  # byte-range slice is exact
        back = decode_jpeg(payload)
        err = np.abs(back.astype(int) - frames[num - 1].astype(int))
        assert back.shape == frames[num - 1].shape
        assert err.max() <= 4 and err.mean() <= 1.5
