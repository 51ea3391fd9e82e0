"""Pure-stdlib PNG/WAV codecs: round trips, full PNG filter-set decode,
honest NotImplementedError boundaries."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from coin_for_rich_spark.llmdata.codecs import (
    _png_chunk,
    _PNG_MAGIC,
    png_decode_gray,
    png_encode_gray,
    wav_decode_pcm16,
    wav_encode_pcm16,
)


def test_png_round_trip_random():
    rng = np.random.RandomState(11)
    for w, h in [(1, 1), (7, 3), (64, 48), (31, 23)]:
        px = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
        assert np.array_equal(png_decode_gray(png_encode_gray(px)), px)


def _encode_with_filters(px: np.ndarray, filters: list[int]) -> bytes:
    """Hand-built encoder applying an explicit filter type per row — used to
    prove the decoder reconstructs all five filter types, not just the
    filter-0 stream our encoder emits."""
    h, w = px.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int64)
    for y in range(h):
        f = filters[y % len(filters)]
        raw.append(f)
        cur = px[y].astype(np.int64)
        left = np.concatenate(([0], cur[:-1]))
        upleft = np.concatenate(([0], prev[:-1]))
        if f == 0:
            out = cur
        elif f == 1:
            out = (cur - left) % 256
        elif f == 2:
            out = (cur - prev) % 256
        elif f == 3:
            out = (cur - (left + prev) // 2) % 256
        else:
            pa = abs(prev - upleft)
            pb = abs(left - upleft)
            pc = abs(left + prev - 2 * upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            out = (cur - pred) % 256
        raw.extend(int(v) for v in out)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def test_png_decode_all_filter_types():
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, size=(10, 17), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = png_decode_gray(_encode_with_filters(px, filters))
        assert np.array_equal(got, px), filters


def test_png_unsupported_subset_raises():
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)  # color type 2 = RGB
    data = _PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
    with pytest.raises(NotImplementedError, match="color type 2"):
        png_decode_gray(data)
    with pytest.raises(ValueError, match="bad signature"):
        png_decode_gray(b"JFIF....")


def test_wav_round_trip_and_chunk_skip():
    rng = np.random.RandomState(3)
    s = rng.randint(-32768, 32768, size=501, dtype=np.int16)
    data = wav_encode_pcm16(s, sample_rate=16000)
    # splice an extra LIST chunk (odd length → word-aligned) before data
    fmt_end = data.index(b"data")
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = data[:fmt_end] + extra + data[fmt_end:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    got, rate = wav_decode_pcm16(spliced)
    assert rate == 16000
    assert np.array_equal(got, s)


def test_wav_unsupported_subset_raises():
    s = np.zeros(4, dtype=np.int16)
    data = bytearray(wav_encode_pcm16(s))
    pos = data.index(b"fmt ") + 8
    data[pos + 2 : pos + 4] = struct.pack("<H", 2)  # channels = 2
    with pytest.raises(NotImplementedError, match="2ch"):
        wav_decode_pcm16(bytes(data))


def test_attach_real_media_decodes_externally(spark, sf_dir):
    """The generated payloads are REAL files: every PNG/WAV byte string
    round-trips through the decoder with the dimensions/lengths the
    generation formulas promise."""
    from coin_for_rich_spark.llmdata import attach_real_media
    from coin_for_rich_spark.sources import load_table

    from coin_for_rich_spark.llmdata.codecs import wav_decode

    docs = load_table(spark, sf_dir, "documents").limit(20)
    for r in attach_real_media(docs).collect():
        if r.mime == "image/png":
            px = png_decode_gray(bytes(r.payload))
            assert px.shape == (r.media_id % 23 + 1, r.media_id % 31 + 1)
        elif r.media_id % 4 == 1:
            s, rate = wav_decode_pcm16(bytes(r.payload))
            assert rate == 8000 and len(s) == r.media_id % 977 + 100
        else:  # mu-law leg (ids ≡ 3 mod 4)
            s, rate, codec = wav_decode(bytes(r.payload))
            assert codec == "ulaw"
            assert rate == 8000 and len(s) == r.media_id % 977 + 100


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 30),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_png_round_trip_property(w, h, seed):
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
        assert np.array_equal(png_decode_gray(png_encode_gray(px)), px)

    @settings(max_examples=25, deadline=None)
    @given(n=st.integers(1, 2000), seed=st.integers(0, 2**31 - 1))
    def test_wav_round_trip_property(n, seed):
        rng = np.random.RandomState(seed)
        s = rng.randint(-32768, 32768, size=n, dtype=np.int16)
        got, rate = wav_decode_pcm16(wav_encode_pcm16(s, 44100))
        assert rate == 44100 and np.array_equal(got, s)

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 33),
        h=st.integers(1, 25),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_jpeg_color_round_trip_property(w, h, seed):
        """Color JPEG is lossy but must preserve shape and stay bounded,
        and the entropy stream must survive byte stuffing at any dims."""
        from coin_for_rich_spark.llmdata.codecs import jpeg_decode, jpeg_encode_rgb

        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = jpeg_decode(jpeg_encode_rgb(px))
        assert out.shape == px.shape and out.dtype == np.uint8
        out420 = jpeg_decode(jpeg_encode_rgb(px, subsampling="4:2:0"))
        assert out420.shape == px.shape and out420.dtype == np.uint8

    @settings(max_examples=10, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 32),
        ri=st.integers(0, 4),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_jpeg_progressive_equals_baseline_property(w, h, ri, seed):
        """Fuzz: progressive decode is bit-identical to baseline decode at
        any dims, with and without restart markers."""
        from coin_for_rich_spark.llmdata.codecs import (
            jpeg_decode,
            jpeg_encode_gray,
            jpeg_encode_gray_progressive,
        )

        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
        base = jpeg_decode(jpeg_encode_gray(px))
        prog = jpeg_decode(jpeg_encode_gray_progressive(px, restart_interval=ri))
        assert np.array_equal(prog, base)

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 16),
        h=st.integers(1, 12),
        n=st.integers(1, 9),
        dur=st.integers(1, 5000),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_mp4_round_trip_property(w, h, n, dur, seed):
        from coin_for_rich_spark.llmdata.mp4 import mp4_demux, mp4_mux_gray

        rng = np.random.RandomState(seed)
        frames = [
            rng.randint(0, 256, size=(h, w), dtype=np.uint8) for _ in range(n)
        ]
        data = mp4_mux_gray(frames, frame_duration_ms=dur)
        vid = mp4_demux(data)
        assert (vid.width, vid.height) == (w, h)
        assert vid.sample_ts == [dur * f for f in range(n)]
        for f in range(n):
            assert np.array_equal(vid.frame_gray(data, f), frames[f])
except ImportError:  # pragma: no cover
    pass


# ---------------------------------------------------------------------------
# Baseline JPEG (grayscale): lossy round-trip bounds + subset boundaries
# ---------------------------------------------------------------------------


def test_jpeg_constant_images_round_trip_within_one():
    """DC-only path: a constant image quantizes to round(c/2)·2 (Annex-K
    Q[0,0]=16 against the 8c DC of an orthonormal DCT), so every decoded
    pixel must be within 1 of the source value — exactly."""
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode_gray, jpeg_encode_gray

    for v in range(0, 256, 7):
        img = np.full((24, 24), v, dtype=np.uint8)
        out = jpeg_decode_gray(jpeg_encode_gray(img))
        assert out.shape == img.shape
        u = np.unique(out)
        assert len(u) == 1 and abs(int(u[0]) - v) <= 1, (v, u)


def test_jpeg_smooth_image_round_trip_bound_and_dims():
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode_gray, jpeg_encode_gray

    x, y = np.arange(61)[None, :], np.arange(43)[:, None]
    img = np.clip(
        128 + 60 * np.sin(x / 9.0) + 40 * np.cos(y / 7.0), 0, 255
    ).astype(np.uint8)
    out = jpeg_decode_gray(jpeg_encode_gray(img))
    assert out.shape == img.shape  # padding cropped, odd dims preserved
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 8


def test_jpeg_entropy_stream_byte_stuffing_round_trips():
    """Noise images reliably produce 0xFF entropy bytes; the stuffed
    0xFF00 sequences must decode transparently."""
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode_gray, jpeg_encode_gray

    stuffed = 0
    for seed in range(12):
        rng = np.random.RandomState(seed)
        img = rng.randint(0, 256, size=(40, 56)).astype(np.uint8)
        enc = jpeg_encode_gray(img)
        sos = enc.find(b"\xff\xda")
        stuffed += b"\xff\x00" in enc[sos:-2]
        out = jpeg_decode_gray(enc)
        assert out.shape == img.shape
        # lossy but bounded: Q50 error stays far below full range
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 128
    assert stuffed > 0  # stuffing genuinely exercised across the seeds


def test_jpeg_unsupported_subset_raises():
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode_gray, jpeg_encode_gray

    enc = jpeg_encode_gray(np.full((8, 8), 9, dtype=np.uint8))
    with pytest.raises(NotImplementedError, match="SOF0"):
        # arithmetic-coded (SOF9) — progressive (SOF2) decodes since r6
        jpeg_decode_gray(enc.replace(b"\xff\xc0", b"\xff\xc9", 1))
    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode_gray(b"\x89PNG" + enc)
    # 3-component SOF body: patch ncomp byte and length to match
    sof_at = enc.find(b"\xff\xc0")
    bad = bytearray(enc)
    bad[sof_at + 9] = 3
    with pytest.raises(NotImplementedError, match="component"):
        jpeg_decode_gray(bytes(bad))


def test_jpeg_color_round_trip_bounds():
    """4:4:4 YCbCr color: constants within ±1 after the RGB↔YCbCr legs,
    smooth gradients tightly bounded, noise bounded below full range."""
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode, jpeg_encode_rgb

    for rgb in [(10, 200, 90), (255, 0, 0), (0, 255, 0), (0, 0, 255), (128, 128, 128)]:
        c = np.full((24, 21, 3), rgb, dtype=np.uint8)
        out = jpeg_decode(jpeg_encode_rgb(c))
        assert out.shape == c.shape
        assert np.abs(out.astype(int) - c.astype(int)).max() <= 1, rgb

    x = np.arange(50, dtype=np.float64)[None, :] + np.zeros((38, 1))
    y = np.arange(38, dtype=np.float64)[:, None] + np.zeros((1, 50))
    img = np.stack(
        [
            np.clip(128 + 60 * np.sin(x / 9.0) + 40 * np.cos(y / 7.0), 0, 255),
            np.clip(128 + 50 * np.cos(x / 11.0), 0, 255),
            np.clip(128 + 45 * np.sin(y / 5.0), 0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)
    out = jpeg_decode(jpeg_encode_rgb(img))
    assert out.shape == img.shape  # odd dims preserved through padding
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 16

    rng = np.random.RandomState(3)
    noisy = rng.randint(0, 256, size=(40, 56, 3)).astype(np.uint8)
    out = jpeg_decode(jpeg_encode_rgb(noisy))
    assert np.abs(out.astype(int) - noisy.astype(int)).max() <= 230


def test_jpeg_color_interleave_uses_chroma_tables():
    """The color stream must carry two DQTs and four DHTs (luma + chroma
    classes), and the gray decoder must reject it rather than return luma."""
    from coin_for_rich_spark.llmdata.codecs import (
        jpeg_decode,
        jpeg_decode_gray,
        jpeg_encode_rgb,
    )

    enc = jpeg_encode_rgb(np.full((8, 8, 3), (40, 90, 200), dtype=np.uint8))
    assert enc.count(b"\xff\xdb") == 2
    assert enc.count(b"\xff\xc4") == 4
    with pytest.raises(NotImplementedError, match="component"):
        jpeg_decode_gray(enc)
    # gray streams decode identically through the general entry point
    from coin_for_rich_spark.llmdata.codecs import jpeg_encode_gray

    g = ((np.arange(16)[:, None] * 7 + np.arange(24)[None, :] * 3) % 251).astype(
        np.uint8
    )
    assert np.array_equal(
        jpeg_decode(jpeg_encode_gray(g)), jpeg_decode_gray(jpeg_encode_gray(g))
    )


def test_jpeg_420_round_trip_bounds_and_stream_shape():
    """4:2:0: constants within ±1 (box-averaged flat chroma is exact),
    smooth gradients bounded, odd dims preserved through the 16×16 MCU
    padding, and the stream is genuinely smaller than 4:4:4."""
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode, jpeg_encode_rgb

    for rgb in [(10, 200, 90), (255, 0, 0), (128, 128, 128)]:
        c = np.full((24, 21, 3), rgb, dtype=np.uint8)
        out = jpeg_decode(jpeg_encode_rgb(c, subsampling="4:2:0"))
        assert out.shape == c.shape
        assert np.abs(out.astype(int) - c.astype(int)).max() <= 1, rgb

    x = np.arange(50, dtype=np.float64)[None, :] + np.zeros((38, 1))
    y = np.arange(38, dtype=np.float64)[:, None] + np.zeros((1, 50))
    img = np.stack(
        [
            np.clip(128 + 60 * np.sin(x / 9.0) + 40 * np.cos(y / 7.0), 0, 255),
            np.clip(128 + 50 * np.cos(x / 11.0), 0, 255),
            np.clip(128 + 45 * np.sin(y / 5.0), 0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)
    enc420 = jpeg_encode_rgb(img, subsampling="4:2:0")
    out = jpeg_decode(enc420)
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 20
    assert len(enc420) < len(jpeg_encode_rgb(img))  # subsampling pays

    odd = img[:17, :13]
    assert jpeg_decode(jpeg_encode_rgb(odd, subsampling="4:2:0")).shape == odd.shape

    with pytest.raises(NotImplementedError, match="subsampling"):
        jpeg_encode_rgb(img, subsampling="4:1:1")


def test_jpeg_420_sof_declares_luma_2x2():
    from coin_for_rich_spark.llmdata.codecs import jpeg_encode_rgb

    enc = jpeg_encode_rgb(
        np.full((16, 16, 3), (9, 99, 199), dtype=np.uint8), subsampling="4:2:0"
    )
    sof = enc.find(b"\xff\xc0")
    # component 1 sampling byte: 0x22 (2×2 luma); components 2-3: 0x11
    assert enc[sof + 11] == 0x22
    assert enc[sof + 14] == 0x11 and enc[sof + 17] == 0x11


def test_jpeg_color_media_stats_path(spark):
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode, jpeg_encode_rgb
    from coin_for_rich_spark.llmdata.multimodal import decode_media_stats

    img = np.stack(
        [
            np.full((10, 7), 30, dtype=np.uint8),
            np.full((10, 7), 130, dtype=np.uint8),
            np.full((10, 7), 230, dtype=np.uint8),
        ],
        axis=-1,
    )
    media = spark.createDataFrame(
        [(9, "image/jpeg", bytearray(jpeg_encode_rgb(img)))],
        "media_id long, mime string, payload binary",
    )
    r = decode_media_stats(media).collect()[0]
    want = jpeg_decode(jpeg_encode_rgb(img)).astype(np.int64)
    assert (r["kind"], r["width"], r["height"]) == ("jpeg_rgb", 7, 10)
    assert (r["n_values"], r["value_sum"]) == (want.size, int(want.sum()))
    assert (r["value_min"], r["value_max"]) == (int(want.min()), int(want.max()))


def test_jpeg_decode_media_stats_path(spark):
    """decode_media_stats handles image/jpeg rows through the same Arrow
    batch pass as PNG/WAV — integer stats of the REAL decoded pixels."""
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode_gray, jpeg_encode_gray
    from coin_for_rich_spark.llmdata.multimodal import decode_media_stats

    imgs = {
        1: np.full((9, 5), 77, dtype=np.uint8),
        2: ((np.arange(16)[:, None] * 11 + np.arange(24)[None, :] * 5) % 200)
        .astype(np.uint8),
    }
    media = spark.createDataFrame(
        [(i, "image/jpeg", bytearray(jpeg_encode_gray(px))) for i, px in imgs.items()],
        "media_id long, mime string, payload binary",
    )
    got = {r["media_id"]: r for r in decode_media_stats(media).collect()}
    for i, px in imgs.items():
        want = jpeg_decode_gray(jpeg_encode_gray(px)).astype(np.int64)
        r = got[i]
        assert (r["kind"], r["width"], r["height"]) == ("jpeg", px.shape[1], px.shape[0])
        assert (r["n_values"], r["value_sum"]) == (want.size, int(want.sum()))
        assert (r["value_min"], r["value_max"]) == (int(want.min()), int(want.max()))


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_jpeg_round_trip_property(w, h, seed):
        from coin_for_rich_spark.llmdata.codecs import (
            jpeg_decode_gray,
            jpeg_encode_gray,
        )

        rng = np.random.RandomState(seed)
        img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        out = jpeg_decode_gray(jpeg_encode_gray(img))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 160

except ImportError:  # pragma: no cover — hypothesis ships in this container
    pass


def test_jpeg_gray_guard_ignores_ffc0_inside_app_segments():
    """An APPn payload containing FF C0 bytes (EXIF thumbnails do this)
    must not be mistaken for the frame header by jpeg_decode_gray's
    component guard."""
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode_gray, jpeg_encode_gray

    img = np.full((8, 8), 55, dtype=np.uint8)
    enc = jpeg_encode_gray(img)
    # splice a fake APP1 right after SOI whose payload embeds FF C0 FF C4
    payload = b"Exif\x00\x00" + b"\xff\xc0\x00\x11\x08\x00\x10\x00\x10\x03" + b"\xff\xc4"
    app1 = b"\xff\xe1" + struct.pack(">H", 2 + len(payload)) + payload
    spliced = enc[:2] + app1 + enc[2:]
    out = jpeg_decode_gray(spliced)
    assert np.array_equal(out, jpeg_decode_gray(enc))


def test_jpeg_fill_bytes_before_markers_are_skipped():
    """Optional 0xFF fill bytes may precede any marker (spec B.1.1.2):
    'FF FF DB ...' must parse as a DQT marker, not desync by reading
    marker=0xFF and misparsing the next bytes as a segment length —
    externally produced streams (and concatenating muxers) emit these."""
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode_gray, jpeg_encode_gray

    img = (np.arange(256).reshape(16, 16) % 200).astype(np.uint8)
    enc = jpeg_encode_gray(img)
    # one fill byte right after SOI, and two before the SOF0 marker
    sof = enc.index(b"\xff\xc0")
    padded = enc[:2] + b"\xff" + enc[2:sof] + b"\xff\xff" + enc[sof:]
    assert np.array_equal(jpeg_decode_gray(padded), jpeg_decode_gray(enc))
    # a truncated stream ENDING in fill bytes must fail clean per the codec
    # contract (the SOF guard returns None → decode raises ValueError), not
    # desync into struct.error from reading past the skip loop's bound
    from coin_for_rich_spark.llmdata.codecs import _jpeg_sof_ncomp

    assert _jpeg_sof_ncomp(b"\xff\xd8\xff\xff\xff\xff") is None
    with pytest.raises(ValueError):
        jpeg_decode_gray(b"\xff\xd8\xff\xff\xff\xff")


def test_jpeg_truncated_missing_eoi_raises():
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode, jpeg_encode_gray

    enc = jpeg_encode_gray(np.full((8, 8), 9, dtype=np.uint8))
    with pytest.raises(ValueError, match="EOI"):
        jpeg_decode(enc[:-2])


# ---------------------------------------------------------------------------
# Compressed audio: G.711 mu-law + IMA ADPCM
# ---------------------------------------------------------------------------


def test_ulaw_known_vectors_and_code_roundtrip():
    """Spec vectors (0 → 0xFF, −1 → 0x7F, extremes → ±32124) and the
    exact code→linear→code round trip for all 256 codewords — the single
    exception is the standard −0 alias (0x7F decodes to 0, which re-encodes
    as +0 = 0xFF)."""
    from coin_for_rich_spark.llmdata.codecs import ulaw_decode_u8, ulaw_encode_u8

    assert int(ulaw_encode_u8(np.array([0]))[0]) == 0xFF
    assert int(ulaw_encode_u8(np.array([-1]))[0]) == 0x7F
    assert int(ulaw_encode_u8(np.array([32767]))[0]) == 0x80
    assert int(ulaw_encode_u8(np.array([-32768]))[0]) == 0x00
    dec = ulaw_decode_u8(np.array([0xFF, 0x7F, 0x80, 0x00], np.uint8))
    assert dec.tolist() == [0, 0, 32124, -32124]

    codes = np.arange(256, dtype=np.uint8)
    back = ulaw_encode_u8(ulaw_decode_u8(codes))
    mism = np.nonzero(back != codes)[0]
    assert mism.tolist() == [0x7F] and int(back[0x7F]) == 0xFF


def test_ulaw_lossy_bound_and_monotone():
    """decode(encode(s)) stays within half the top-segment step of the
    clipped input, and the expansion is monotone in the signed code order."""
    from coin_for_rich_spark.llmdata.codecs import ulaw_decode_u8, ulaw_encode_u8

    rng = np.random.RandomState(17)
    s = rng.randint(-32768, 32768, size=50000).astype(np.int16)
    rt = ulaw_decode_u8(ulaw_encode_u8(s)).astype(np.int64)
    clipped = np.clip(s.astype(np.int64), -32635, 32635)
    assert np.abs(rt - clipped).max() <= 512
    # monotone: positive codes 0xFF..0x80 decode increasing, mirror negative
    pos = ulaw_decode_u8(np.arange(255, 127, -1, dtype=np.uint8))
    assert np.all(np.diff(pos.astype(np.int64)) >= 0)


def test_wav_ulaw_container_roundtrip_and_fact_chunk():
    from coin_for_rich_spark.llmdata.codecs import (
        ulaw_decode_u8,
        wav_decode,
        wav_decode_pcm16,
        wav_encode_ulaw,
    )

    c = ((13 * np.arange(777) + 5) % 256).astype(np.uint8)
    wav = wav_encode_ulaw(c, 8000)
    assert b"fact" in wav  # required for non-PCM WAV
    got, rate, codec = wav_decode(wav)
    assert (codec, rate) == ("ulaw", 8000)
    assert np.array_equal(got, ulaw_decode_u8(c))
    # strict PCM16 entry point refuses to transcode
    with pytest.raises(NotImplementedError, match="ulaw"):
        wav_decode_pcm16(wav)


def test_wav_decode_dispatches_pcm16():
    from coin_for_rich_spark.llmdata.codecs import wav_decode

    rng = np.random.RandomState(23)
    s = rng.randint(-32768, 32768, size=501).astype(np.int16)
    got, rate, codec = wav_decode(wav_encode_pcm16(s, 44100))
    assert (codec, rate) == ("pcm16", 44100)
    assert np.array_equal(got, s)


def test_adpcm_decode_equals_encoder_reconstruction():
    """The encoder quantizes against its own reconstruction; an independent
    replay of the spec state machine must land on the SAME int16 samples —
    the deterministic-parity pin for a lossy codec (no SQL oracle exists)."""
    from coin_for_rich_spark.llmdata.codecs import (
        _adpcm_step_sample,
        adpcm_ima_decode,
        adpcm_ima_encode,
    )

    t = np.arange(3000)
    sig = (2500 * np.sin(t / 19) + 900 * np.sin(t / 3) + 40 * t % 7).astype(np.int16)
    payload, ba = adpcm_ima_encode(sig, 505)
    dec = adpcm_ima_decode(payload, ba)
    # replay the state machine over the emitted nibbles independently
    spb = (ba - 4) * 2 + 1
    replay = []
    for start in range(0, len(payload), ba):
        blk = payload[start : start + ba]
        pred, index, _ = struct.unpack("<hBB", blk[:4])
        replay.append(pred)
        for byte in blk[4:]:
            for code in (byte & 0x0F, byte >> 4):
                pred, index = _adpcm_step_sample(code, pred, index)
                replay.append(pred)
    assert np.array_equal(dec, np.array(replay, dtype=np.int16))
    assert len(dec) % spb == 0


def test_adpcm_tracks_signal_and_tail_padding():
    from coin_for_rich_spark.llmdata.codecs import adpcm_ima_decode, adpcm_ima_encode

    t = np.arange(1234)  # not a multiple of samples-per-block → padded tail
    sig = (3000 * np.sin(t / 25)).astype(np.int16)
    payload, ba = adpcm_ima_encode(sig, 505)
    dec = adpcm_ima_decode(payload, ba).astype(np.int64)
    err = np.abs(dec[: len(sig)] - sig.astype(np.int64))
    # smooth signal inside the step table's reach: tight tracking
    assert err.max() <= 2000 and err.mean() < 50
    # padded tail repeats the final sample's neighborhood
    assert np.abs(dec[len(sig) :] - int(sig[-1])).max() <= 2000


def test_wav_adpcm_container_roundtrip():
    from coin_for_rich_spark.llmdata.codecs import (
        adpcm_ima_decode,
        adpcm_ima_encode,
        wav_decode,
        wav_encode_adpcm_ima,
    )

    t = np.arange(2021)
    sig = (1500 * np.sin(t / 11) + 300 * np.cos(t / 2)).astype(np.int16)
    wav = wav_encode_adpcm_ima(sig, 22050, 505)
    got, rate, codec = wav_decode(wav)
    assert (codec, rate) == ("adpcm_ima", 22050)
    # the fact chunk carries the TRUE count: a round trip of a
    # non-block-multiple signal preserves length — the block tail padding
    # (last sample repeated) never leaks out as real audio
    assert len(got) == len(sig)
    payload, ba = adpcm_ima_encode(sig, 505)
    assert np.array_equal(got, adpcm_ima_decode(payload, ba)[: len(sig)])


def test_wav_adpcm_fact_chunk_truncates_tail_padding():
    from coin_for_rich_spark.llmdata.codecs import wav_decode, wav_encode_adpcm_ima

    sig = (np.arange(700) % 97 * 30 - 1500).astype(np.int16)  # 700 < 2*505
    wav = wav_encode_adpcm_ima(sig, 8000, 505)
    # fact chunk holds the pre-padding count, not n_blocks*spb
    pos = wav.index(b"fact") + 8
    (fact,) = struct.unpack("<I", wav[pos : pos + 4])
    assert fact == 700
    got, _, _ = wav_decode(wav)
    assert len(got) == 700


def test_adpcm_decodes_foreign_block_layout():
    """Decoder accepts blocks the encoder never writes: a hand-built block
    with a non-zero initial step index seeds the state machine from the
    header, proving decode follows the spec, not our encoder's habits."""
    from coin_for_rich_spark.llmdata.codecs import _adpcm_step_sample, adpcm_ima_decode

    pred0, index0 = -1200, 37
    nibbles = [3, 9, 14, 0, 7, 12, 1, 8]
    blk = struct.pack("<hBB", pred0, index0, 0)
    for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
        blk += bytes([lo | (hi << 4)])
    dec = adpcm_ima_decode(blk, len(blk))
    expect = [pred0]
    pred, index = pred0, index0
    for code in nibbles:
        pred, index = _adpcm_step_sample(code, pred, index)
        expect.append(pred)
    assert dec.tolist() == expect


def test_wav_unknown_format_tag_raises():
    from coin_for_rich_spark.llmdata.codecs import wav_decode

    s = np.zeros(4, dtype=np.int16)
    data = bytearray(wav_encode_pcm16(s))
    pos = data.index(b"fmt ") + 8
    data[pos : pos + 2] = struct.pack("<H", 0x0055)  # MP3 tag
    with pytest.raises(NotImplementedError, match="85"):
        wav_decode(bytes(data))


# ---------------------------------------------------------------------------
# JPEG restart markers (DRI + RSTn)
# ---------------------------------------------------------------------------


def test_jpeg_restart_decodes_identical_to_plain():
    """Restart markers change only the entropy-stream framing: the decoded
    image must be bit-identical to the same image encoded without them —
    gray and color, 4:4:4 and 4:2:0, intervals that wrap D0–D7."""
    from coin_for_rich_spark.llmdata.codecs import (
        jpeg_decode,
        jpeg_encode_gray,
        jpeg_encode_rgb,
    )

    rng = np.random.RandomState(31)
    px = rng.randint(0, 256, size=(40, 56), dtype=np.uint8)
    plain = jpeg_decode(jpeg_encode_gray(px))
    for ri in (1, 2, 5):
        enc = jpeg_encode_gray(px, restart_interval=ri)
        assert b"\xff\xdd" in enc
        assert np.array_equal(jpeg_decode(enc), plain)
    rgb = rng.randint(0, 256, size=(33, 47, 3), dtype=np.uint8)
    for sub in ("4:4:4", "4:2:0"):
        base = jpeg_decode(jpeg_encode_rgb(rgb, subsampling=sub))
        enc = jpeg_encode_rgb(rgb, subsampling=sub, restart_interval=2)
        assert np.array_equal(jpeg_decode(enc), base)


def test_jpeg_restart_modulo_wrap_and_sequence_check():
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode, jpeg_encode_gray

    rng = np.random.RandomState(37)
    px = rng.randint(0, 256, size=(80, 80), dtype=np.uint8)  # 100 MCUs
    enc = jpeg_encode_gray(px, restart_interval=2)  # 49 RSTs → D0–D7 wrap
    assert enc.count(b"\xff\xd0") >= 6  # wraps several times
    assert np.array_equal(jpeg_decode(enc), jpeg_decode(jpeg_encode_gray(px)))
    # corrupt the second marker's sequence number
    bad = bytearray(enc)
    i = bad.index(b"\xff\xd1")
    bad[i + 1] = 0xD5
    with pytest.raises(ValueError, match="RST sequence"):
        jpeg_decode(bytes(bad))


def test_jpeg_rst_without_dri_rejected():
    from coin_for_rich_spark.llmdata.codecs import jpeg_decode, jpeg_encode_gray

    rng = np.random.RandomState(41)
    px = rng.randint(0, 256, size=(32, 32), dtype=np.uint8)
    enc = jpeg_encode_gray(px, restart_interval=2)
    dri = enc.index(b"\xff\xdd")
    with pytest.raises(ValueError, match="no DRI"):
        jpeg_decode(enc[:dri] + enc[dri + 6 :])


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2): spectral selection + successive approximation
# ---------------------------------------------------------------------------


def test_jpeg_progressive_decodes_identical_to_baseline():
    """Progressive coding re-frames the SAME quantized coefficients, so a
    full progressive decode must be bit-identical to decoding the baseline
    stream of the same image — gray, 4:4:4, 4:2:0."""
    from coin_for_rich_spark.llmdata.codecs import (
        jpeg_decode,
        jpeg_encode_gray,
        jpeg_encode_gray_progressive,
        jpeg_encode_rgb,
        jpeg_encode_rgb_progressive,
    )

    rng = np.random.RandomState(53)
    for h, w in [(8, 8), (24, 40), (17, 33), (5, 100)]:
        px = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
        base = jpeg_decode(jpeg_encode_gray(px))
        prog = jpeg_decode(jpeg_encode_gray_progressive(px))
        assert np.array_equal(base, prog), (h, w)
    for sub in ("4:4:4", "4:2:0"):
        px = rng.randint(0, 256, size=(33, 47, 3), dtype=np.uint8)
        base = jpeg_decode(jpeg_encode_rgb(px, subsampling=sub))
        prog = jpeg_decode(jpeg_encode_rgb_progressive(px, subsampling=sub))
        assert np.array_equal(base, prog), sub


def test_jpeg_progressive_eob_runs_and_refinement():
    """Smooth and constant images drive the EOBn run-length paths (multi-
    block skips with correction-bit tails); noise drives dense refinement."""
    from coin_for_rich_spark.llmdata.codecs import (
        jpeg_decode,
        jpeg_encode_gray,
        jpeg_encode_gray_progressive,
    )

    x = np.arange(128)
    smooth = np.clip(np.add.outer(x, x) // 2, 0, 255).astype(np.uint8)
    const = np.full((48, 56), 200, dtype=np.uint8)
    for img in (smooth, const):
        assert np.array_equal(
            jpeg_decode(jpeg_encode_gray(img)),
            jpeg_decode(jpeg_encode_gray_progressive(img)),
        )
    # the progressive stream actually contains EOBn (n>0) symbols: the
    # constant image's AC scans are pure EOB runs, so its scans are tiny
    enc = jpeg_encode_gray_progressive(const)
    assert enc.count(b"\xff\xda") == 6  # DC first/refine + 2 AC bands + 2 refines


def test_jpeg_progressive_with_restart_markers():
    from coin_for_rich_spark.llmdata.codecs import (
        jpeg_decode,
        jpeg_encode_gray,
        jpeg_encode_gray_progressive,
        jpeg_encode_rgb,
        jpeg_encode_rgb_progressive,
    )

    rng = np.random.RandomState(59)
    px = rng.randint(0, 256, size=(40, 56), dtype=np.uint8)
    base = jpeg_decode(jpeg_encode_gray(px))
    for ri in (1, 3):
        assert np.array_equal(
            base, jpeg_decode(jpeg_encode_gray_progressive(px, restart_interval=ri))
        )
    rgb = rng.randint(0, 256, size=(33, 47, 3), dtype=np.uint8)
    for sub in ("4:4:4", "4:2:0"):
        assert np.array_equal(
            jpeg_decode(jpeg_encode_rgb(rgb, subsampling=sub)),
            jpeg_decode(
                jpeg_encode_rgb_progressive(rgb, subsampling=sub, restart_interval=2)
            ),
        )


def test_jpeg_progressive_partial_scan_is_coarse_but_valid():
    """Dropping the refinement scans must still decode (that is the point
    of progressive rendering) — coarser, but structurally valid and close
    to the full image."""
    from coin_for_rich_spark.llmdata.codecs import (
        jpeg_decode,
        jpeg_encode_gray_progressive,
    )

    x = np.arange(64)
    px = np.clip(np.add.outer(x * 2, x * 2) // 2, 0, 255).astype(np.uint8)
    enc = jpeg_encode_gray_progressive(px)
    # keep SOI..end of the 4th scan (DC both + both AC bands), then EOI:
    # scan starts are the FF DA positions; truncate before the 5th
    positions = []
    start = 0
    while True:
        i = enc.find(b"\xff\xda", start)
        if i < 0:
            break
        positions.append(i)
        start = i + 2
    assert len(positions) == 6
    coarse = jpeg_decode(enc[: positions[4]] + b"\xff\xd9")
    full = jpeg_decode(enc)
    assert coarse.shape == full.shape
    # smooth gradient at Al=2 truncation: small mean deviation
    assert np.abs(coarse.astype(int) - full.astype(int)).mean() < 8


def test_jpeg_progressive_decodes_foreign_scan_scripts():
    """The decoder follows ANY spec-legal scan schedule, not just our
    encoder's default: no successive approximation, many narrow spectral
    bands, deep approximation ladders, and out-of-order bands must all
    reassemble to the exact baseline coefficients."""
    from coin_for_rich_spark.llmdata.codecs import (
        _APP0,
        _DC_BITS,
        _DC_VALS,
        _JPEG_Q,
        _ZIGZAG,
        _dht_segment,
        _dqt_segment,
        _emit_progressive_scans,
        _huffman_codes,
        _plane_qcoef,
        _uniform_ac_huffman,
        jpeg_decode,
        jpeg_encode_gray,
    )

    def encode_with_script(px, script):
        h, w = px.shape
        zz_r = [rc[0] for rc in _ZIGZAG]
        zz_c = [rc[1] for rc in _ZIGZAG]
        qzz = _plane_qcoef(px.astype(np.float64), _JPEG_Q)[:, :, zz_r, zz_c]
        ac_bits, ac_vals = _uniform_ac_huffman()
        scans = _emit_progressive_scans(
            [qzz], [(1, 1)], [1], [_huffman_codes(_DC_BITS, _DC_VALS)], [0],
            _huffman_codes(ac_bits, ac_vals), h, w, 0, script=script,
        )
        sof = b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1) + bytes(
            [1, 0x11, 0]
        )
        dht = _dht_segment(0x00, _DC_BITS, _DC_VALS) + _dht_segment(
            0x10, ac_bits, ac_vals
        )
        return (
            b"\xff\xd8" + _APP0 + _dqt_segment(0x00, _JPEG_Q)
            + sof + dht + scans + b"\xff\xd9"
        )

    rng = np.random.RandomState(91)
    px = rng.randint(0, 256, size=(31, 45), dtype=np.uint8)
    base = jpeg_decode(jpeg_encode_gray(px))
    scripts = [
        # no successive approximation at all
        [([0], 0, 0, 0, 0), ([0], 1, 63, 0, 0)],
        # many narrow spectral bands
        [([0], 0, 0, 0, 0)]
        + [([0], k, min(k + 6, 63), 0, 0) for k in range(1, 64, 7)],
        # deep approximation ladder
        [([0], 0, 0, 0, 2), ([0], 0, 0, 2, 1), ([0], 0, 0, 1, 0),
         ([0], 1, 63, 0, 3), ([0], 1, 63, 3, 2), ([0], 1, 63, 2, 1),
         ([0], 1, 63, 1, 0)],
        # bands out of order
        [([0], 0, 0, 0, 0), ([0], 32, 63, 0, 1), ([0], 1, 31, 0, 1),
         ([0], 32, 63, 1, 0), ([0], 1, 31, 1, 0)],
    ]
    for script in scripts:
        got = jpeg_decode(encode_with_script(px, script))
        assert np.array_equal(got, base), script


def test_jpeg_422_subsampling_round_trips():
    """4:2:2 (luma 2x1, 16x8 MCUs): shape preservation at awkward dims,
    tight constant accuracy, restart + progressive parity with baseline."""
    from coin_for_rich_spark.llmdata.codecs import (
        jpeg_decode,
        jpeg_encode_rgb,
        jpeg_encode_rgb_progressive,
    )

    rng = np.random.RandomState(67)
    for h, w in [(16, 16), (33, 47), (8, 8), (5, 100)]:
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = jpeg_decode(jpeg_encode_rgb(px, subsampling="4:2:2"))
        assert out.shape == px.shape and out.dtype == np.uint8
    c = np.full((24, 40, 3), (90, 160, 30), dtype=np.uint8)
    out = jpeg_decode(jpeg_encode_rgb(c, subsampling="4:2:2"))
    assert np.abs(out.astype(int) - c.astype(int)).max() <= 2
    px = rng.randint(0, 256, size=(33, 47, 3), dtype=np.uint8)
    base = jpeg_decode(jpeg_encode_rgb(px, subsampling="4:2:2"))
    assert np.array_equal(
        base, jpeg_decode(jpeg_encode_rgb(px, subsampling="4:2:2", restart_interval=2))
    )
    assert np.array_equal(
        base, jpeg_decode(jpeg_encode_rgb_progressive(px, subsampling="4:2:2"))
    )


def test_media_decode_matches_duckdb_twin(spark, sf_dir, duck):
    """The full encode→bytes→decode codec round trip, hash-exact against
    its formula-only DuckDB twin — preserved as a pytest pin after
    ``media_decode`` rotated OUT of the driver gate in r13 (swapped for
    ``web_preprocess``; the attach→mapInPandas→stats plumbing keeps its
    gate row through ``frame_sample``). The oracle never parses a byte:
    it recomputes count/sum/min/max of the decoded pixels/samples straight
    from the generation formulas, so agreement certifies the real PNG /
    PCM16 / G.711 mu-law decoders end to end."""
    import __spark_entry__ as entry_mod
    from selfcheck import compare

    sdf = entry_mod.q_media_decode(spark, sf_dir).toPandas()
    assert len(sdf) > 0
    odf = duck.execute(entry_mod._media_decode_oracle_sql()).df()
    problems = compare("media_decode", sdf, odf)
    assert not problems, problems
