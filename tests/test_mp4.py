"""MP4 container layer: mux/demux round trips, demuxer generality over
chunk maps and timing runs the muxer never writes, honest codec boundary,
and the Spark demux + tick-sampling path."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from coin_for_rich_spark.llmdata.mp4 import (
    Mp4Video,
    _box,
    _full_box,
    mp4_demux,
    mp4_mux_gray,
)

_U32 = struct.Struct(">I")


def _formula_frames(i: int) -> list[np.ndarray]:
    w, h, n = i % 13 + 1, i % 11 + 1, i % 7 + 2
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    return [((5 * x + 11 * y + 29 * f + i) % 256).astype(np.uint8) for f in range(n)]


def test_mp4_round_trip_pixels_and_timing():
    rng = np.random.RandomState(7)
    for w, h, n in [(1, 1, 1), (13, 11, 8), (5, 9, 3)]:
        frames = [
            rng.randint(0, 256, size=(h, w), dtype=np.uint8) for _ in range(n)
        ]
        data = mp4_mux_gray(frames, frame_duration_ms=250)
        vid = mp4_demux(data)
        assert (vid.width, vid.height) == (w, h)
        assert vid.timescale == 1000
        assert vid.sample_format == "gry8"
        assert vid.sample_ts == [250 * f for f in range(n)]
        assert vid.sample_dur == [250] * n
        for f in range(n):
            assert np.array_equal(vid.frame_gray(data, f), frames[f])


def test_mp4_mux_validates_input():
    with pytest.raises(ValueError):
        mp4_mux_gray([])
    a = np.zeros((2, 2), dtype=np.uint8)
    b = np.zeros((3, 2), dtype=np.uint8)
    with pytest.raises(ValueError):
        mp4_mux_gray([a, b])
    with pytest.raises(ValueError):
        mp4_mux_gray([np.zeros((2, 2), dtype=np.int32)])


def _mux_multi_chunk(frames: list[np.ndarray]) -> bytes:
    """Hand-mux the same track the muxer writes, but with each sample in its
    OWN chunk (n stco entries, one stsc run of samples_per_chunk=1), the
    chunks laid down in REVERSE order inside mdat, and the durations split
    into two stts runs — shapes mp4_mux_gray never produces, which is the
    point: the demuxer must resolve them from the tables alone."""
    h, w = frames[0].shape
    n = len(frames)
    dur_runs = [(1, 100), (n - 1, 250)] if n > 1 else [(1, 100)]
    duration = 100 + 250 * (n - 1)

    ftyp = _box(b"ftyp", b"isom" + _U32.pack(0) + b"isom")
    order = list(reversed(range(n)))
    payload = b"".join(frames[i].tobytes() for i in order)
    mdat = _box(b"mdat", payload)
    base = len(ftyp) + 8
    # chunk k holds sample k; sample i sits where order placed it
    offsets = [0] * n
    pos = base
    for i in order:
        offsets[i] = pos
        pos += frames[i].size

    mvhd = _full_box(
        b"mvhd",
        0,
        0,
        _U32.pack(0) * 2 + _U32.pack(1000) + _U32.pack(duration)
        + _U32.pack(0x00010000) + struct.pack(">H", 0x0100) + b"\x00" * 10
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + _U32.pack(2),
    )
    tkhd = _full_box(
        b"tkhd",
        0,
        7,
        _U32.pack(0) * 2 + _U32.pack(1) + _U32.pack(0) + _U32.pack(duration)
        + b"\x00" * 8 + b"\x00" * 6 + b"\x00\x00"
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + _U32.pack(w << 16) + _U32.pack(h << 16),
    )
    mdhd = _full_box(
        b"mdhd", 0, 0,
        _U32.pack(0) * 2 + _U32.pack(1000) + _U32.pack(duration)
        + struct.pack(">H", 0x55C4) + struct.pack(">H", 0),
    )
    hdlr = _full_box(b"hdlr", 0, 0, _U32.pack(0) + b"vide" + b"\x00" * 12 + b"g\x00")
    vmhd = _full_box(b"vmhd", 0, 1, b"\x00" * 8)
    dinf = _box(b"dinf", _full_box(b"dref", 0, 0, _U32.pack(1) + _full_box(b"url ", 0, 1, b"")))
    entry = _box(
        b"gry8",
        b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
        + struct.pack(">H", w) + struct.pack(">H", h)
        + _U32.pack(0x00480000) * 2 + _U32.pack(0) + struct.pack(">H", 1)
        + b"\x00" * 32 + struct.pack(">H", 8) + struct.pack(">h", -1),
    )
    stsd = _full_box(b"stsd", 0, 0, _U32.pack(1) + entry)
    stts = _full_box(
        b"stts", 0, 0,
        _U32.pack(len(dur_runs))
        + b"".join(_U32.pack(c) + _U32.pack(d) for c, d in dur_runs),
    )
    stsc = _full_box(b"stsc", 0, 0, _U32.pack(1) + _U32.pack(1) + _U32.pack(1) + _U32.pack(1))
    stsz = _full_box(
        b"stsz", 0, 0,
        _U32.pack(0) + _U32.pack(n) + b"".join(_U32.pack(f.size) for f in frames),
    )
    stco = _full_box(
        b"stco", 0, 0, _U32.pack(n) + b"".join(_U32.pack(o) for o in offsets)
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def test_mp4_demux_general_chunk_map_and_stts_runs():
    rng = np.random.RandomState(3)
    frames = [rng.randint(0, 256, size=(4, 6), dtype=np.uint8) for _ in range(5)]
    data = _mux_multi_chunk(frames)
    vid = mp4_demux(data)
    assert vid.sample_dur == [100, 250, 250, 250, 250]
    assert vid.sample_ts == [0, 100, 350, 600, 850]
    for f in range(5):
        assert np.array_equal(vid.frame_gray(data, f), frames[f])


def test_mp4_non_gray_sample_format_raises():
    frames = [np.zeros((2, 2), dtype=np.uint8)]
    data = bytearray(mp4_mux_gray(frames))
    i = data.find(b"gry8")
    data[i : i + 4] = b"avc1"  # pretend it's H.264
    vid = mp4_demux(bytes(data))
    assert vid.sample_format == "avc1"
    with pytest.raises(NotImplementedError):
        vid.frame_gray(bytes(data), 0)


def test_mp4_truncated_raises():
    data = mp4_mux_gray([np.zeros((2, 2), dtype=np.uint8)])
    with pytest.raises(ValueError):
        mp4_demux(data[: len(data) // 2])


def test_spark_demux_and_tick_sampling(spark, sf_dir):
    from coin_for_rich_spark.llmdata import (
        attach_real_video,
        demux_video_frames,
        sample_real_frames,
    )
    from coin_for_rich_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    frames = demux_video_frames(attach_real_video(docs))
    rows = {(r["media_id"], r["sample_idx"]): r for r in frames.collect()}
    assert rows
    for (i, f), r in rows.items():
        assert i % 3 == 2
        expect = _formula_frames(i)[f].astype(np.int64)
        assert r["width"] == i % 13 + 1 and r["height"] == i % 11 + 1
        assert r["sample_ts_ms"] == 250 * f and r["sample_dur_ms"] == 250
        assert r["value_sum"] == int(expect.sum())
        assert r["value_min"] == int(expect.min())
        assert r["value_max"] == int(expect.max())
        assert r["n_values"] == expect.size

    sampled = sample_real_frames(frames, every_ms=400).collect()
    # every tick must land inside its sample's interval, and the full tick
    # grid 0, 400, 800, … below each video's duration must be covered
    seen = {}
    for r in sampled:
        assert r["frame_ts_ms"] // 250 == r["sample_idx"] or (
            250 * r["sample_idx"]
            <= r["frame_ts_ms"]
            < 250 * (r["sample_idx"] + 1)
        )
        seen.setdefault(r["media_id"], set()).add(r["frame_ts_ms"])
    for i in {m for m, _ in rows}:
        n = i % 7 + 2
        expect_ticks = set(range(0, 250 * n, 400))
        assert seen[i] == expect_ticks, (i, seen[i], expect_ticks)


def test_mp4_ms_conversion_is_integer_exact(spark):
    """A timescale that does not divide 1000 must not lose a millisecond to
    float truncation: ts=3 at timescale 6 is exactly 500 ms."""
    import numpy as np

    from coin_for_rich_spark.llmdata.multimodal import demux_video_frames
    from coin_for_rich_spark.llmdata.mp4 import mp4_mux_gray

    frames = [np.zeros((2, 2), dtype=np.uint8) for _ in range(4)]
    data = mp4_mux_gray(frames, frame_duration_ms=1, timescale=6)
    media = spark.createDataFrame(
        [(1, "video/mp4", bytearray(data))],
        "media_id long, mime string, payload binary",
    )
    got = {
        r["sample_idx"]: r["sample_ts_ms"]
        for r in demux_video_frames(media).collect()
    }
    # sample ts in timescale-6 units: 0,1,2,3 → ms: 0,166,333,500
    assert got == {0: 0, 1: 166, 2: 333, 3: 500}


# ---------------------------------------------------------------------------
# Compressed-track metadata without decode (r12 VERDICT ask #8): stsd codec
# config (avcC) + stss keyframe table -> byte ranges, no codec library.
# ---------------------------------------------------------------------------


def _mux_avc1(
    sample_sizes: list[int],
    key_samples: list[int],
    w: int = 32,
    h: int = 24,
    profile: int = 0x64,
    compat: int = 0x00,
    level: int = 0x1F,
) -> tuple[bytes, list[int]]:
    """Hand-mux an avc1 track: opaque 'compressed' payloads of varying
    size, an avcC decoder-config child box in the sample entry, and an
    stss sync table — the container shapes a real encoder writes, with
    zero codec bytes that mean anything. Returns (file, sample_offsets)."""
    payloads = [
        bytes(((i * 7 + j) % 256) for j in range(sz))
        for i, sz in enumerate(sample_sizes)
    ]
    n = len(payloads)
    ftyp = _box(b"ftyp", b"isom" + _U32.pack(0) + b"isom")
    mdat = _box(b"mdat", b"".join(payloads))
    base = len(ftyp) + 8
    offsets, pos = [], base
    for p in payloads:
        offsets.append(pos)
        pos += len(p)
    duration = 500 * n

    mvhd = _full_box(
        b"mvhd", 0, 0,
        _U32.pack(0) * 2 + _U32.pack(1000) + _U32.pack(duration)
        + _U32.pack(0x00010000) + struct.pack(">H", 0x0100) + b"\x00" * 10
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + _U32.pack(2),
    )
    tkhd = _full_box(
        b"tkhd", 0, 7,
        _U32.pack(0) * 2 + _U32.pack(1) + _U32.pack(0) + _U32.pack(duration)
        + b"\x00" * 8 + b"\x00" * 6 + b"\x00\x00"
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + _U32.pack(w << 16) + _U32.pack(h << 16),
    )
    mdhd = _full_box(
        b"mdhd", 0, 0,
        _U32.pack(0) * 2 + _U32.pack(1000) + _U32.pack(duration)
        + struct.pack(">H", 0x55C4) + struct.pack(">H", 0),
    )
    hdlr = _full_box(b"hdlr", 0, 0, _U32.pack(0) + b"vide" + b"\x00" * 12 + b"h\x00")
    vmhd = _full_box(b"vmhd", 0, 1, b"\x00" * 8)
    dinf = _box(b"dinf", _full_box(b"dref", 0, 0, _U32.pack(1) + _full_box(b"url ", 0, 1, b"")))
    # AVCDecoderConfigurationRecord: version, profile, compat, level,
    # lengthSizeMinusOne|0xFC, numSPS|0xE0, then (empty) parameter sets
    avcc = _box(
        b"avcC",
        bytes([1, profile, compat, level, 0xFF, 0xE1])
        + struct.pack(">H", 0) + bytes([1]) + struct.pack(">H", 0),
    )
    entry = _box(
        b"avc1",
        b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
        + struct.pack(">H", w) + struct.pack(">H", h)
        + _U32.pack(0x00480000) * 2 + _U32.pack(0) + struct.pack(">H", 1)
        + b"\x00" * 32 + struct.pack(">H", 24) + struct.pack(">h", -1)
        + avcc,
    )
    stsd = _full_box(b"stsd", 0, 0, _U32.pack(1) + entry)
    stts = _full_box(b"stts", 0, 0, _U32.pack(1) + _U32.pack(n) + _U32.pack(500))
    stsc = _full_box(b"stsc", 0, 0, _U32.pack(1) + _U32.pack(1) + _U32.pack(n) + _U32.pack(1))
    stsz = _full_box(
        b"stsz", 0, 0,
        _U32.pack(0) + _U32.pack(n) + b"".join(_U32.pack(s) for s in sample_sizes),
    )
    stco = _full_box(b"stco", 0, 0, _U32.pack(1) + _U32.pack(base))
    stss = _full_box(
        b"stss", 0, 0,
        _U32.pack(len(key_samples))
        + b"".join(_U32.pack(s + 1) for s in key_samples),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov, offsets


def test_mp4_avc1_codec_metadata_and_keyframes_without_decode():
    sizes = [50, 20, 30, 60, 10, 40, 25]
    keys = [0, 3, 6]
    data, offsets = _mux_avc1(sizes, keys)
    vid = mp4_demux(data)
    assert vid.sample_format == "avc1"
    assert vid.codec == {
        "codec": "h264",
        "rfc6381": "avc1.64001F",
        "profile_idc": 0x64,
        "profile_compat": 0x00,
        "level_idc": 0x1F,
        "config_bytes": 11,
    }
    assert vid.sync_samples == keys
    assert vid.keyframe_indices() == keys
    # the slices a decode service would fetch: absolute, size-exact
    assert vid.keyframe_byte_ranges() == [
        (0, offsets[0], 50), (3, offsets[3], 60), (6, offsets[6], 25)
    ]
    # seek preroll: latest keyframe at or before t (ts = 500*idx)
    assert vid.nearest_keyframe(0) == 0
    assert vid.nearest_keyframe(1499) == 0
    assert vid.nearest_keyframe(1500) == 3
    assert vid.nearest_keyframe(10**9) == 6
    # pixel decode stays behind the honest codec boundary
    with pytest.raises(NotImplementedError):
        vid.frame_gray(data, 0)


def test_mp4_gry8_has_no_stss_so_every_sample_is_sync():
    frames = _formula_frames(9)
    data = mp4_mux_gray(frames)
    vid = mp4_demux(data)
    assert vid.sync_samples is None  # no stss box written
    assert vid.keyframe_indices() == list(range(len(frames)))
    assert vid.codec is None  # uncompressed entry: no decoder config
    assert len(vid.keyframe_byte_ranges()) == len(frames)


def test_spark_video_keyframe_index(spark, sf_dir):
    """The Spark-side sampling-without-decode path: keyframe index rows for
    a real avc1 container AND the gry8 fixtures, bytes never shuffled."""
    from coin_for_rich_spark.llmdata.multimodal import (
        attach_real_video,
        video_keyframe_index,
    )
    from coin_for_rich_spark.sources import load_table

    data, offsets = _mux_avc1([50, 20, 30, 60, 10, 40, 25], [0, 3, 6])
    avc = spark.createDataFrame(
        [(900001, bytearray(data))], "media_id long, payload binary"
    )
    rows = video_keyframe_index(avc).orderBy("sample_idx").collect()
    assert [r["sample_idx"] for r in rows] == [0, 3, 6]
    assert all(r["codec"] == "h264" for r in rows)
    assert all(r["rfc6381"] == "avc1.64001F" for r in rows)
    assert all(r["has_stss"] for r in rows)
    assert [r["byte_offset"] for r in rows] == [offsets[0], offsets[3], offsets[6]]
    assert [r["n_bytes"] for r in rows] == [50, 60, 25]
    assert [r["keyframe_ts_ms"] for r in rows] == [0, 1500, 3000]

    docs = load_table(spark, sf_dir, "documents").limit(8)
    media = attach_real_video(docs)
    out = video_keyframe_index(media)
    agg = out.groupBy("media_id").count().collect()
    per_media = {r["media_id"]: r["count"] for r in agg}
    one = out.filter(~out.has_stss).collect()
    # gry8 fixtures have no stss: every sample is a keyframe
    assert one and all(r["n_keyframes"] == r["n_samples"] for r in one)
    assert all(r["codec"] is None for r in one)
    assert per_media and all(v >= 1 for v in per_media.values())


def test_mp4_mux_avc1_package_muxer_roundtrip():
    """The package muxer (mp4.mp4_mux_avc1, promoted from this file's
    hand-mux helper in r14) produces containers the demuxer reads back
    exactly: codec config, sync table, and size-exact absolute ranges."""
    from coin_for_rich_spark.llmdata.mp4 import mp4_mux_avc1

    sizes = [50, 20, 30, 60, 10, 40, 25]
    keys = [0, 3, 6]
    payloads = [bytes((k * 7 + j) % 256 for j in range(sz))
                for k, sz in enumerate(sizes)]
    data = mp4_mux_avc1(payloads, keys, width=32, height=24)
    vid = mp4_demux(data)
    assert vid.sample_format == "avc1"
    assert vid.codec["rfc6381"] == "avc1.64001F"
    assert vid.sync_samples == keys
    offs = [r[1] for r in vid.keyframe_byte_ranges()]
    assert offs == [28, 28 + 50 + 20 + 30, 28 + 50 + 20 + 30 + 60 + 10 + 40]
    assert [r[2] for r in vid.keyframe_byte_ranges()] == [50, 60, 25]


def test_video_keyframes_matches_duckdb_twin(spark, sf_dir, duck):
    """The keyframe index over the gry8 containers vs its formula-only
    DuckDB twin, which predicts every row (absolute byte offsets included)
    from the muxer layout alone: 20-byte ftyp + 8-byte mdat header +
    cumulative w*h. Beyond the parity case it also requires a non-empty
    index."""
    import __spark_entry__ as entry_mod
    from selfcheck import compare

    sdf = entry_mod.q_video_keyframes(spark, sf_dir).toPandas()
    assert len(sdf) > 0
    odf = duck.execute(entry_mod._video_keyframes_oracle_sql()).df()
    problems = compare("video_keyframes", sdf, odf)
    assert not problems, problems


def test_video_keyframes_avc_matches_duckdb_twin(spark, sf_dir, duck):
    """The keyframe index over avc1 containers (avcC decoder config + stss
    sync table) vs its formula-only DuckDB twin, which predicts the
    RFC 6381 strings and absolute byte offsets without parsing a byte.
    Beyond the parity case it also requires every codec string to be
    avc1."""
    import __spark_entry__ as entry_mod
    from selfcheck import compare

    sdf = entry_mod.q_video_keyframes_avc(spark, sf_dir).toPandas()
    assert len(sdf) > 0
    assert set(sdf["rfc6381"].str[:5]) == {"avc1."}
    odf = duck.execute(entry_mod._video_keyframes_avc_oracle_sql()).df()
    problems = compare("video_keyframes_avc", sdf, odf)
    assert not problems, problems
