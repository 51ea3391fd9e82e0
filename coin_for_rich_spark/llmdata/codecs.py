"""Pure-stdlib media codecs: PNG (8-bit grayscale), WAV (PCM16 mono plus
G.711 mu-law and IMA ADPCM compressed audio), and JPEG (grayscale and
YCbCr color, DCT + Huffman — baseline sequential AND progressive).

The container ships no media libraries (PIL/librosa/pyav), but these real
formats need none: PNG's pixel stream is zlib (stdlib) behind a documented
chunk layout + per-row filters, WAV is a RIFF header around PCM / mu-law
codewords / ADPCM blocks, and baseline JPEG is an 8×8 DCT (one numpy
einsum over all blocks), Annex-K quantization, and canonical Huffman
entropy coding — all reproducible from the public spec. These are
complete, spec-faithful implementations for the supported subset — REAL
decode, not a stub — and they draw the honest codec boundary tightly:
anything outside the subset raises ``NotImplementedError`` naming the
missing capability (compressed video codecs, arithmetic-coded and 12-bit
JPEG remain outside; progressive JPEG and DRI/RSTn restart markers are
fully supported on both legs).

Encoders exist so the engine can *generate* valid media deterministically
(test fixtures, synthetic corpora); decoders implement the full spec
surface of the subset (all five PNG row filters; JPEG DQT/DHT read from
the stream, not assumed) so they also read externally produced files of
the supported subset, not just our own output.

PNG/WAV pixel/sample math is integer-exact (uint8 / int16 → int64 sums),
so any statistic derived from those decodes is bit-identical across
engines. JPEG is lossy by nature; its decode is deterministic (fixed
tables, float64 IDCT, half-even rounding) but has no closed-form SQL
oracle, so it is property-tested (round-trip error bounds, exact DC-only
constants) rather than hash-matched.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def png_encode_gray(pixels: np.ndarray) -> bytes:
    """Encode a (h, w) uint8 array as an 8-bit grayscale PNG (filter 0)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("png_encode_gray expects a 2-D (h, w) array")
    h, w = px.shape
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode_gray(data: bytes) -> np.ndarray:
    """Decode an 8-bit grayscale PNG to a (h, w) uint8 array.

    Implements the full per-row filter set (0 None, 1 Sub, 2 Up, 3 Average,
    4 Paeth), so any spec-conforming encoder's grayscale-8 output decodes —
    interlacing, palettes, other bit depths and color types are outside the
    supported subset and raise.
    """
    if data[: len(_PNG_MAGIC)] != _PNG_MAGIC:
        raise ValueError("not a PNG: bad signature")
    pos = len(_PNG_MAGIC)
    width = height = None
    idat = b""
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + body + crc
        if typ == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (depth, color) != (8, 0):
                raise NotImplementedError(
                    f"PNG bit depth {depth} / color type {color} is outside "
                    "the supported subset (8-bit grayscale)"
                )
            if interlace != 0:
                raise NotImplementedError("interlaced PNG is not supported")
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
    if width is None:
        raise ValueError("not a PNG: missing IHDR")
    raw = zlib.decompress(idat)
    stride = width + 1
    if len(raw) != stride * height:
        raise ValueError("PNG pixel stream length mismatch")
    out = np.zeros((height, width), dtype=np.uint8)
    prev = np.zeros(width, dtype=np.int64)
    for y in range(height):
        ftype = raw[y * stride]
        row = np.frombuffer(raw, dtype=np.uint8, count=width, offset=y * stride + 1)
        row = row.astype(np.int64)
        if ftype == 0:
            cur = row
        elif ftype == 2:  # Up
            cur = (row + prev) % 256
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth carry left state
            cur = np.zeros(width, dtype=np.int64)
            left = 0
            for x in range(width):
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + int(prev[x])) // 2
                else:
                    pred = _paeth(left, int(prev[x]), int(prev[x - 1]) if x else 0)
                left = (int(row[x]) + pred) % 256
                cur[x] = left
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def wav_encode_pcm16(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Encode a 1-D int16 array as a mono PCM16 WAV."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim != 1:
        raise ValueError("wav_encode_pcm16 expects a 1-D array")
    payload = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(payload)) + payload
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode_pcm16(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a mono PCM16 WAV to (int16 samples, sample_rate).

    Strict-subset entry point: non-PCM16 audio raises even when the general
    ``wav_decode`` could expand it (callers asking for PCM16 want raw PCM16
    semantics, not a transcode). Use ``wav_decode`` for format dispatch.
    """
    samples, rate, codec = wav_decode(data)
    if codec != "pcm16":
        raise NotImplementedError(
            f"WAV codec {codec!r} is outside the strict PCM16 subset; "
            "use wav_decode for format dispatch"
        )
    return samples, rate


# WAVE format tags (RIFF spec / RFC 2361)
_WAV_FMT_PCM = 0x0001
_WAV_FMT_IMA_ADPCM = 0x0011
_WAV_FMT_MULAW = 0x0007


def wav_decode(data: bytes) -> tuple[np.ndarray, int, str]:
    """Decode a mono WAV to (int16 samples, sample_rate, codec).

    Walks the RIFF chunk list (extra chunks like LIST/fact are skipped) and
    dispatches on the fmt tag: PCM 16-bit (tag 1, codec ``'pcm16'``),
    G.711 mu-law (tag 7, 8-bit, codec ``'ulaw'``), and IMA/DVI ADPCM
    (tag 0x11, 4-bit, codec ``'adpcm_ima'``) — the three mono layouts that
    cover uncompressed, telephony-companded, and block-predictive WAV audio.
    Compressed codecs expand to int16 PCM. Other tags, multi-channel, or
    unexpected bit widths raise ``NotImplementedError``.
    """
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos = 12
    sample_rate = None
    audio_fmt = bits = block_align = None
    raw = None
    fact_samples = None
    while pos + 8 <= len(data):
        typ = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if typ == b"fmt ":
            audio_fmt, channels, sample_rate, _, block_align, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if channels != 1:
                raise NotImplementedError(
                    f"WAV with {channels}ch audio is outside the supported "
                    "subset (mono)"
                )
        elif typ == b"fact" and length >= 4:
            # the true sample count for compressed formats — block codecs
            # pad the final block, and without this the tail padding would
            # be returned as real audio
            (fact_samples,) = struct.unpack("<I", body[:4])
        elif typ == b"data":
            raw = body
    if sample_rate is None or raw is None:
        raise ValueError("not a WAV: missing fmt/data chunk")
    if audio_fmt == _WAV_FMT_PCM and bits == 16:
        return np.frombuffer(raw, dtype="<i2"), sample_rate, "pcm16"
    if audio_fmt == _WAV_FMT_MULAW and bits == 8:
        codes = np.frombuffer(raw, dtype=np.uint8)
        return ulaw_decode_u8(codes), sample_rate, "ulaw"
    if audio_fmt == _WAV_FMT_IMA_ADPCM and bits == 4:
        if not block_align or block_align < 5:
            raise ValueError("IMA ADPCM WAV: bad block align")
        out = adpcm_ima_decode(raw, block_align)
        if fact_samples is not None:
            out = out[:fact_samples]  # drop final-block tail padding
        return out, sample_rate, "adpcm_ima"
    raise NotImplementedError(
        f"WAV format tag {audio_fmt}/{bits}bit is outside the supported "
        "subset (PCM16, G.711 mu-law, IMA ADPCM — mono)"
    )


# ---------------------------------------------------------------------------
# G.711 mu-law — the telephony companding codec (ITU-T G.711, also WAV fmt
# tag 7). 8 bits/sample; segmented 14-bit log compression. Pure integer
# column math, so both directions vectorize in numpy and the EXPANSION is a
# closed-form expression an SQL oracle can evaluate per codeword:
#   u = 255 - code; t = ((u % 16) * 8 + 132) << ((u // 16) % 8)
#   sample = 132 - t if u >= 128 else t - 132
# ---------------------------------------------------------------------------

_ULAW_BIAS = 0x84  # 132
_ULAW_CLIP = 32635


def ulaw_encode_u8(samples: np.ndarray) -> np.ndarray:
    """Compress int16 linear samples to G.711 mu-law codewords (uint8).

    Segmented approximation of the mu-law curve exactly as the spec's
    encode table: bias the clipped magnitude by 0x84, find the segment
    (exponent) from the leading bit, keep 4 mantissa bits, complement.
    """
    s = np.asarray(samples, dtype=np.int64)
    sign = (s < 0).astype(np.int64)
    mag = np.minimum(np.abs(s), _ULAW_CLIP) + _ULAW_BIAS
    # segment = floor(log2(mag)) - 7 for mag in [0x100, ...): the spec's
    # exponent is the position of the leading 1 above bit 7
    exp = (np.floor(np.log2(mag)).astype(np.int64)) - 7
    exp = np.clip(exp, 0, 7)
    mant = (mag >> (exp + 3)) & 0x0F
    code = (sign << 7) | (exp << 4) | mant
    return (~code & 0xFF).astype(np.uint8)


def ulaw_decode_u8(codes: np.ndarray) -> np.ndarray:
    """Expand G.711 mu-law codewords (uint8) to int16 linear samples.

    The closed-form expansion (see module comment) — integer-exact, so any
    statistic over the decoded samples is reproducible by an oracle that
    only knows the codeword values.
    """
    u = (~np.asarray(codes, dtype=np.uint8)).astype(np.int64) & 0xFF
    t = ((u & 0x0F) << 3) + _ULAW_BIAS
    t = t << ((u & 0x70) >> 4)
    return np.where(u & 0x80, _ULAW_BIAS - t, t - _ULAW_BIAS).astype(np.int16)


def wav_encode_ulaw(codes: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Wrap raw mu-law codewords (uint8) as a mono fmt-7 WAV.

    Takes CODEWORDS, not linear samples (compress first with
    ``ulaw_encode_u8``), so deterministic corpora can be generated directly
    in codeword space. Writes the ``fact`` chunk required for non-PCM WAV.
    """
    c = np.asarray(codes, dtype=np.uint8)
    if c.ndim != 1:
        raise ValueError("wav_encode_ulaw expects a 1-D array")
    payload = c.tobytes()
    fmt = struct.pack("<HHIIHH", _WAV_FMT_MULAW, 1, sample_rate, sample_rate, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"fact" + struct.pack("<II", 4, len(c))
    body += b"data" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        body += b"\x00"  # RIFF chunks are word-aligned
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM (WAV fmt tag 0x11) — 4 bits/sample block-predictive coding.
# Each block: 4-byte header (int16 predictor, uint8 step index, reserved)
# followed by packed 4-bit codes, low nibble first. The decoder is the
# spec's integer state machine (step/index tables); the encoder emits the
# code whose RECONSTRUCTION it tracks, so encoder-internal state and
# decoder output are bit-identical — that equality is the correctness pin
# (the codec is lossy vs the input, exact vs its own reconstruction).
# ---------------------------------------------------------------------------

_ADPCM_STEPS = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
        41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
        190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
        724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
        6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
        16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int64,
)
_ADPCM_INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64)


def _adpcm_step_sample(code: int, pred: int, index: int) -> tuple[int, int]:
    """One decoder step: (code, state) -> (new predictor, new index)."""
    step = int(_ADPCM_STEPS[index])
    diff = step >> 3
    if code & 1:
        diff += step >> 2
    if code & 2:
        diff += step >> 1
    if code & 4:
        diff += step
    pred = pred - diff if code & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + int(_ADPCM_INDEX_ADJ[code & 7])))
    return pred, index


def adpcm_ima_encode(
    samples: np.ndarray, samples_per_block: int = 505
) -> tuple[bytes, int]:
    """Encode int16 mono samples as IMA ADPCM block data.

    Returns (block payload bytes, block_align). Each block holds
    ``samples_per_block`` samples (must be odd: 1 header sample + an even
    number of packed nibbles); the final short block is padded by repeating
    the last sample, the standard tail convention. The encoder quantizes
    against its own reconstruction, so a decoder replaying the state
    machine reproduces the encoder's tracked signal exactly.
    """
    s = np.asarray(samples, dtype=np.int64)
    if s.ndim != 1 or len(s) == 0:
        raise ValueError("adpcm_ima_encode expects a non-empty 1-D array")
    if samples_per_block < 3 or samples_per_block % 2 == 0:
        raise ValueError("samples_per_block must be odd and >= 3")
    block_align = 4 + (samples_per_block - 1) // 2
    out = bytearray()
    index = 0
    for start in range(0, len(s), samples_per_block):
        blk = s[start : start + samples_per_block]
        if len(blk) < samples_per_block:  # pad tail with the last sample
            blk = np.concatenate(
                [blk, np.full(samples_per_block - len(blk), blk[-1], np.int64)]
            )
        pred = int(blk[0])
        out += struct.pack("<hBB", pred, index, 0)
        nibbles = []
        for x in blk[1:]:
            step = int(_ADPCM_STEPS[index])
            delta = int(x) - pred
            code = 8 if delta < 0 else 0
            delta = abs(delta)
            if delta >= step:
                code |= 4
                delta -= step
            if delta >= step >> 1:
                code |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                code |= 1
            pred, index = _adpcm_step_sample(code, pred, index)
            nibbles.append(code)
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
    return bytes(out), block_align


def adpcm_ima_decode(data: bytes, block_align: int) -> np.ndarray:
    """Decode IMA ADPCM block data (mono) to int16 samples.

    Pure spec state machine; accepts any encoder's blocks of this layout,
    not just our own (per-block predictor/index header re-seeds state, so
    truncated streams decode from any block boundary).
    """
    spb = (block_align - 4) * 2 + 1
    chunks = []
    for start in range(0, len(data) - 3, block_align):
        blk = data[start : start + block_align]
        pred, index, _ = struct.unpack("<hBB", blk[:4])
        index = max(0, min(88, index))
        vals = np.empty(spb, dtype=np.int64)
        vals[0] = pred
        k = 1
        for byte in blk[4:]:
            for code in (byte & 0x0F, byte >> 4):
                pred, index = _adpcm_step_sample(code, pred, index)
                vals[k] = pred
                k += 1
        chunks.append(vals[:k])
    if not chunks:
        raise ValueError("IMA ADPCM payload shorter than one block header")
    return np.concatenate(chunks).astype(np.int16)


def wav_encode_adpcm_ima(
    samples: np.ndarray, sample_rate: int = 8000, samples_per_block: int = 505
) -> bytes:
    """Encode int16 mono samples as an IMA ADPCM (fmt 0x11) WAV."""
    payload, block_align = adpcm_ima_encode(samples, samples_per_block)
    # fact carries the TRUE (pre-padding) sample count — writing the padded
    # n_blocks*samples_per_block would make a round trip of a
    # non-block-multiple signal change length and decoded stats
    total = len(np.asarray(samples))
    byte_rate = (sample_rate * block_align + samples_per_block - 1) // samples_per_block
    fmt = struct.pack(
        "<HHIIHH", _WAV_FMT_IMA_ADPCM, 1, sample_rate, byte_rate, block_align, 4
    ) + struct.pack("<HH", 2, samples_per_block)  # cbSize + wSamplesPerBlock
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"fact" + struct.pack("<II", 4, total)
    body += b"data" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# Baseline JPEG — pure numpy DCT + Huffman, no libraries.
#
# Scope mirrors the PNG/WAV subset philosophy: a complete, spec-faithful
# implementation of baseline sequential JFIF for 8-bit grayscale (one
# component) AND YCbCr color (three components, interleaved scan) at both
# 4:4:4, 4:2:0 and 4:2:2 chroma sampling (decode additionally accepts
# 4:4:0), with the standard Annex-K quantization
# + Huffman tables, byte-stuffed entropy streams, and DRI/RSTn restart
# markers on both legs (byte-aligned intervals, DC predictor resets,
# verified D0-D7 modulo sequence). PROGRESSIVE (SOF2) is fully supported
# on both legs too: spectral selection, successive approximation (DC and
# AC, both directions), EOBn run lengths, and multi-scan table redefinition
# — a full progressive decode is bit-identical to the baseline decode of
# the same coefficients, and partial-scan prefixes still decode (coarse).
# Remaining sampling layouts (4:1:1), 12-bit precision, and arithmetic
# coding are outside the subset and raise NotImplementedError naming the
# capability. The decoder reads DQT/DHT from the stream (not hardcoded),
# so externally produced JPEGs of this subset decode too.
# ---------------------------------------------------------------------------

# Annex K.1 luminance quantization table (quality 50), row-major
_JPEG_Q = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)

# Annex K.2 chrominance quantization table (quality 50), row-major
_JPEG_QC = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int64,
)

# zigzag scan order: _ZIGZAG[k] = (row, col) of the k-th coefficient
_ZIGZAG = sorted(
    ((r, c) for r in range(8) for c in range(8)),
    key=lambda rc: (rc[0] + rc[1], rc[1] if (rc[0] + rc[1]) % 2 else rc[0]),
)

# Annex K.3 standard luminance Huffman tables: counts per code length 1..16
# then the symbol values in canonical order
_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_DC_VALS = tuple(range(12))
_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_AC_VALS = tuple(
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]
)


# Annex K.3 standard chrominance Huffman tables
_DC_BITS_C = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
_DC_VALS_C = tuple(range(12))
_AC_BITS_C = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
_AC_VALS_C = tuple(
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]
)
assert len(_AC_VALS_C) == sum(_AC_BITS_C) == 162


def _huffman_codes(bits, vals) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (JPEG C.2): symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _dct_matrix() -> np.ndarray:
    u = np.arange(8, dtype=np.float64)[:, None]
    x = np.arange(8, dtype=np.float64)[None, :]
    m = np.cos((2 * x + 1) * u * np.pi / 16) * 0.5
    m[0, :] = np.sqrt(1.0 / 8.0)
    return m


_DCT_M = _dct_matrix()


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (F.1.2.3)
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)

    def restart(self, count: int) -> None:
        """Byte-align (1-bit padding) and emit RSTn, n = count mod 8 —
        marker bytes go into the stream raw, never stuffed (E.1.2)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (count & 7)])


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (category, extra-bits payload)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _pad_replicate(
    plane: np.ndarray, multiple: int, multiple_w: int | None = None
) -> np.ndarray:
    """Edge-replicate a (h, w) plane up to the next ``multiple`` grid (the
    one padding rule every encode path shares); ``multiple_w`` pads the
    width to a different grid (the 4:2:2 MCU is 16 wide x 8 tall); no-copy
    when aligned."""
    h, w = plane.shape
    mw = multiple if multiple_w is None else multiple_w
    ph = (h + multiple - 1) // multiple * multiple
    pw = (w + mw - 1) // mw * mw
    if (ph, pw) == (h, w) and plane.dtype == np.float64:
        return plane
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = plane
    padded[h:, :w] = padded[h - 1 : h, :w]
    padded[:, w:] = padded[:, w - 1 : w]
    return padded


def _plane_qcoef(plane: np.ndarray, qtable: np.ndarray) -> np.ndarray:
    """Edge-replicate a (h, w) float plane to the 8×8 grid, run the batched
    forward DCT, and quantize: returns (nbi, nbj, 8, 8) int64 coefficients."""
    padded = _pad_replicate(plane, 8)
    ph, pw = padded.shape
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3) - 128.0
    )
    coef = np.einsum("ux,bcxy,vy->bcuv", _DCT_M, blocks, _DCT_M)
    return np.round(coef / qtable).astype(np.int64)


def _encode_block(bw: "_BitWriter", zz, prev_dc: int, dc_codes, ac_codes) -> int:
    """Entropy-encode one zigzag-ordered 64-coefficient block (JPEG F.1.2);
    returns the block's DC value as the next predictor."""
    dc = int(zz[0])
    size, extra = _magnitude(dc - prev_dc)
    code, length = dc_codes[size]
    bw.write(code, length)
    if size:
        bw.write(extra, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size, extra = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        bw.write(code, length)
        bw.write(extra, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return dc


def _dri_segment(interval: int) -> bytes:
    return b"\xff\xdd" + struct.pack(">HH", 4, interval) if interval else b""


def jpeg_encode_gray(pixels: np.ndarray, restart_interval: int = 0) -> bytes:
    """Encode a (h, w) uint8 array as a baseline sequential grayscale JFIF
    JPEG (SOF0, Annex-K Q50 quantization + standard Huffman tables).

    ``restart_interval`` > 0 writes a DRI segment and emits RSTn markers
    every that many MCUs (byte-aligned, DC predictor reset) — the layout
    cameras write for error resilience and parallel decoders key on.

    Blocks are edge-replicated to the 8×8 grid; the DCT runs as one
    batched einsum over all blocks (BLAS), only the entropy coding is a
    per-block Python loop — fine for the Arrow-batch scale this runs at.
    """
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("jpeg_encode_gray expects a 2-D (h, w) array")
    h, w = px.shape
    q = _plane_qcoef(px.astype(np.float64), _JPEG_Q)

    dc_codes = _huffman_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huffman_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    prev_dc = 0
    zz_r = [rc[0] for rc in _ZIGZAG]
    zz_c = [rc[1] for rc in _ZIGZAG]
    mcu = 0
    rst = 0
    for bi in range(q.shape[0]):
        for bj in range(q.shape[1]):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.restart(rst)
                rst += 1
                prev_dc = 0
            prev_dc = _encode_block(
                bw, q[bi, bj][zz_r, zz_c], prev_dc, dc_codes, ac_codes
            )
            mcu += 1
    entropy = bw.flush()

    dqt = _dqt_segment(0x00, _JPEG_Q)
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3, 8, h, w, 1) + bytes(
        [1, 0x11, 0]
    )
    dht = _dht_segment(0x00, _DC_BITS, _DC_VALS) + _dht_segment(
        0x10, _AC_BITS, _AC_VALS
    )
    sos = b"\xff\xda" + struct.pack(">HB", 6 + 2, 1) + bytes([1, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8" + _APP0 + dqt + sof + dht
        + _dri_segment(restart_interval) + sos + entropy + b"\xff\xd9"
    )


_APP0 = (
    b"\xff\xe0"
    + struct.pack(">H", 16)
    + b"JFIF\x00\x01\x01\x00"
    + struct.pack(">HHBB", 1, 1, 0, 0)
)


def _dqt_segment(tid: int, qtable: np.ndarray) -> bytes:
    qzz = bytes(int(qtable[r, c]) for r, c in _ZIGZAG)
    return b"\xff\xdb" + struct.pack(">HB", 2 + 1 + 64, tid) + qzz


def _dht_segment(cls_tid: int, bits, vals) -> bytes:
    return (
        b"\xff\xc4"
        + struct.pack(">HB", 2 + 1 + 16 + len(vals), cls_tid)
        + bytes(bits)
        + bytes(vals)
    )


def _rgb_to_ycbcr(px: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """JFIF RGB → YCbCr (ITU-R BT.601 full range), float planes."""
    r = px[..., 0].astype(np.float64)
    g = px[..., 1].astype(np.float64)
    b = px[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def jpeg_encode_rgb(
    pixels: np.ndarray, subsampling: str = "4:4:4", restart_interval: int = 0
) -> bytes:
    """Encode a (h, w, 3) uint8 RGB array as a baseline sequential YCbCr
    JFIF JPEG (SOF0, Annex-K luminance + chrominance quantization and
    Huffman tables, interleaved three-component scan).

    ``subsampling``: '4:4:4' (one block per component per MCU) or '4:2:0'
    (the dominant real-world layout — each 16×16 MCU carries four luma
    blocks and one 2×2 box-averaged block per chroma component). Per-plane
    DCTs run as batched einsums; the interleaved entropy coding with
    independent per-component DC predictors is the per-block loop.
    ``restart_interval`` > 0 writes DRI + RSTn markers every that many
    MCUs (all three DC predictors reset)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("jpeg_encode_rgb expects a (h, w, 3) array")
    if subsampling not in ("4:4:4", "4:2:0", "4:2:2"):
        raise NotImplementedError(
            f"subsampling {subsampling!r} unsupported (4:4:4, 4:2:0 or 4:2:2)"
        )
    h, w = px.shape[:2]
    y, cb, cr = _rgb_to_ycbcr(px)
    luma = (_huffman_codes(_DC_BITS, _DC_VALS), _huffman_codes(_AC_BITS, _AC_VALS))
    chroma = (
        _huffman_codes(_DC_BITS_C, _DC_VALS_C),
        _huffman_codes(_AC_BITS_C, _AC_VALS_C),
    )
    bw = _BitWriter()
    prev = [0, 0, 0]
    zz_r = [rc[0] for rc in _ZIGZAG]
    zz_c = [rc[1] for rc in _ZIGZAG]

    mcu = 0
    rst = 0

    def maybe_restart() -> None:
        nonlocal rst
        if restart_interval and mcu and mcu % restart_interval == 0:
            bw.restart(rst)
            rst += 1
            prev[0] = prev[1] = prev[2] = 0

    if subsampling == "4:4:4":
        y_sampling = 0x11
        planes = [
            _plane_qcoef(y, _JPEG_Q),
            _plane_qcoef(cb, _JPEG_QC),
            _plane_qcoef(cr, _JPEG_QC),
        ]
        tables = [luma, chroma, chroma]
        nbi, nbj = planes[0].shape[:2]
        for bi in range(nbi):
            for bj in range(nbj):
                maybe_restart()
                mcu += 1
                for ci in range(3):
                    dc_codes, ac_codes = tables[ci]
                    prev[ci] = _encode_block(
                        bw, planes[ci][bi, bj][zz_r, zz_c], prev[ci],
                        dc_codes, ac_codes,
                    )
    elif subsampling == "4:2:2":
        # MCU = 16×8 px: two side-by-side Y blocks, one Cb and one Cr
        # block from the horizontally-half-res planes
        y_sampling = 0x21
        ph, pw = (h + 7) // 8 * 8, (w + 15) // 16 * 16
        yq = _plane_qcoef(_pad_replicate(y, 8, 16), _JPEG_Q)
        half = [
            _plane_qcoef(
                _pad_replicate(p, 8, 16).reshape(ph, pw // 2, 2).mean(axis=2),
                _JPEG_QC,
            )
            for p in (cb, cr)
        ]
        n_mcu_i, n_mcu_j = ph // 8, pw // 16
        for mi in range(n_mcu_i):
            for mj in range(n_mcu_j):
                maybe_restart()
                mcu += 1
                for dj in (0, 1):
                    prev[0] = _encode_block(
                        bw, yq[mi, 2 * mj + dj][zz_r, zz_c], prev[0], *luma
                    )
                for ci, plane in ((1, half[0]), (2, half[1])):
                    prev[ci] = _encode_block(
                        bw, plane[mi, mj][zz_r, zz_c], prev[ci], *chroma
                    )
    else:  # 4:2:0 — MCU = 16×16 px: Y blocks (2i,2j)(2i,2j+1)(2i+1,2j)
        # (2i+1,2j+1), then one Cb and one Cr block from the half-res planes
        y_sampling = 0x22
        ph, pw = (h + 15) // 16 * 16, (w + 15) // 16 * 16
        yq = _plane_qcoef(_pad_replicate(y, 16), _JPEG_Q)
        half = [
            _plane_qcoef(
                _pad_replicate(p, 16)
                .reshape(ph // 2, 2, pw // 2, 2)
                .mean(axis=(1, 3)),
                _JPEG_QC,
            )
            for p in (cb, cr)
        ]
        n_mcu_i, n_mcu_j = ph // 16, pw // 16
        for mi in range(n_mcu_i):
            for mj in range(n_mcu_j):
                maybe_restart()
                mcu += 1
                for di, dj in ((0, 0), (0, 1), (1, 0), (1, 1)):
                    prev[0] = _encode_block(
                        bw,
                        yq[2 * mi + di, 2 * mj + dj][zz_r, zz_c],
                        prev[0],
                        *luma,
                    )
                for ci, plane in ((1, half[0]), (2, half[1])):
                    prev[ci] = _encode_block(
                        bw, plane[mi, mj][zz_r, zz_c], prev[ci], *chroma
                    )
    entropy = bw.flush()

    dqt = _dqt_segment(0x00, _JPEG_Q) + _dqt_segment(0x01, _JPEG_QC)
    sof = (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 8 + 3 * 3, 8, h, w, 3)
        + bytes([1, y_sampling, 0, 2, 0x11, 1, 3, 0x11, 1])
    )
    dht = (
        _dht_segment(0x00, _DC_BITS, _DC_VALS)
        + _dht_segment(0x10, _AC_BITS, _AC_VALS)
        + _dht_segment(0x01, _DC_BITS_C, _DC_VALS_C)
        + _dht_segment(0x11, _AC_BITS_C, _AC_VALS_C)
    )
    sos = (
        b"\xff\xda"
        + struct.pack(">HB", 6 + 2 * 3, 3)
        + bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    )
    return (
        b"\xff\xd8" + _APP0 + dqt + sof + dht
        + _dri_segment(restart_interval) + sos + entropy + b"\xff\xd9"
    )


def _uniform_ac_huffman() -> tuple[list[int], list[int]]:
    """AC Huffman table for progressive scans: the Annex-K baseline tables
    lack the EOBn (n>0) run-length symbols progressive coding emits, so the
    encoder registers this spec-legal table instead — every symbol the
    progressive AC coder can produce (EOB0–EOB14, ZRL, all run/size pairs)
    at a uniform 9-bit length (Kraft sum 176/512 < 1, canonical build)."""
    syms = [0x00] + [n << 4 for n in range(1, 15)] + [0xF0]
    syms += [(r << 4) | s for r in range(16) for s in range(1, 11)]
    bits = [0] * 16
    bits[8] = len(syms)
    return bits, syms


# progressive scan script: DC first (Al=1) + DC refine, then per component
# two spectral AC bands at Al=2 and two full-band refinement passes — the
# classic coarse-to-fine schedule covering every progressive code path
# (spectral selection, EOB runs, successive approximation both directions).
def _progressive_script(ncomp: int) -> list[tuple[list[int], int, int, int, int]]:
    script: list[tuple[list[int], int, int, int, int]] = [
        (list(range(ncomp)), 0, 0, 0, 1),
        (list(range(ncomp)), 0, 0, 1, 0),
    ]
    for c in range(ncomp):
        script.append(([c], 1, 5, 0, 2))
        script.append(([c], 6, 63, 0, 2))
    for c in range(ncomp):
        script.append(([c], 1, 63, 2, 1))
        script.append(([c], 1, 63, 1, 0))
    return script


def _emit_progressive_scans(
    qzz: list[np.ndarray],
    samplings: list[tuple[int, int]],
    comp_ids: list[int],
    dc_codes_per_comp: list[dict],
    dc_tid_per_comp: list[int],
    ac_codes: dict,
    h: int,
    w: int,
    restart_interval: int,
    script: list[tuple[list[int], int, int, int, int]] | None = None,
) -> bytes:
    """Encode the full progressive scan sequence (SOS headers + entropy)
    for zigzag-flat MCU-padded coefficient grids. Faithful G.2 coding: DC
    diffs on the point-transformed values, AC first scans with EOB-run
    accumulation, AC refinement with buffered correction bits; restart
    markers flush the EOB run and reset predictors."""
    max_h = max(hs for hs, _vs in samplings)
    max_v = max(vs for _hs, vs in samplings)
    n_mcu_i = (h + 8 * max_v - 1) // (8 * max_v)
    n_mcu_j = (w + 8 * max_h - 1) // (8 * max_h)
    comp_blocks = [
        (
            ((h * vs + max_v - 1) // max_v + 7) // 8,
            ((w * hs + max_h - 1) // max_h + 7) // 8,
        )
        for hs, vs in samplings
    ]
    out = bytearray()

    for comp_sel, ss, se, ah, al in (script or _progressive_script(len(qzz))):
        ns = len(comp_sel)
        sos = b"\xff\xda" + struct.pack(">HB", 6 + 2 * ns, ns)
        for ci in comp_sel:
            sos += bytes([comp_ids[ci], (dc_tid_per_comp[ci] << 4) | 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += sos

        bw = _BitWriter()
        prev = [0] * len(qzz)
        eobrun = 0
        be_bits: list[int] = []
        rst = 0

        def emit_eobrun() -> None:
            nonlocal eobrun, be_bits
            if eobrun > 0:
                nbits = eobrun.bit_length() - 1
                code, length = ac_codes[nbits << 4]
                bw.write(code, length)
                if nbits:
                    bw.write(eobrun & ((1 << nbits) - 1), nbits)
                eobrun = 0
                for b in be_bits:
                    bw.write(b, 1)
                be_bits = []

        interleaved = ns > 1
        if interleaved:
            n_units = n_mcu_i * n_mcu_j
        else:
            nbi, nbj = comp_blocks[comp_sel[0]]
            n_units = nbi * nbj

        def encode_dc(blk: np.ndarray, ci: int) -> None:
            v = int(blk[0]) >> al
            if ah == 0:
                size, extra = _magnitude(v - prev[ci])
                code, length = dc_codes_per_comp[ci][size]
                bw.write(code, length)
                if size:
                    bw.write(extra, size)
                prev[ci] = v
            else:
                bw.write(v & 1, 1)

        for idx in range(n_units):
            if restart_interval and idx and idx % restart_interval == 0:
                emit_eobrun()
                bw.restart(rst)
                rst += 1
                prev = [0] * len(qzz)
            if interleaved:  # DC scan over MCUs
                mi, mj = divmod(idx, n_mcu_j)
                for ci in comp_sel:
                    hs, vs = samplings[ci]
                    for di in range(vs):
                        for dj in range(hs):
                            encode_dc(qzz[ci][mi * vs + di, mj * hs + dj], ci)
                continue
            ci = comp_sel[0]
            bi, bj = divmod(idx, comp_blocks[ci][1])
            blk = qzz[ci][bi, bj]
            if ss == 0:
                encode_dc(blk, ci)
            elif ah == 0:  # AC first scan (G.1.2.2 run/size + EOBn)
                r = 0
                for k in range(ss, se + 1):
                    v = int(blk[k])
                    if v < 0:
                        mag = (-v) >> al
                        payload = ~mag
                    else:
                        mag = v >> al
                        payload = mag
                    if mag == 0:
                        r += 1
                        continue
                    emit_eobrun()
                    while r > 15:
                        code, length = ac_codes[0xF0]
                        bw.write(code, length)
                        r -= 16
                    nbits = mag.bit_length()
                    code, length = ac_codes[(r << 4) | nbits]
                    bw.write(code, length)
                    bw.write(payload & ((1 << nbits) - 1), nbits)
                    r = 0
                if r > 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        emit_eobrun()
            else:  # AC refinement scan (G.1.2.3, buffered correction bits)
                absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
                eob = 0
                for k in range(ss, se + 1):
                    if absv[k - ss] == 1:
                        eob = k
                r = 0
                br_bits: list[int] = []
                for k in range(ss, se + 1):
                    mag = absv[k - ss]
                    if mag == 0:
                        r += 1
                        continue
                    while r > 15 and k <= eob:
                        emit_eobrun()
                        code, length = ac_codes[0xF0]
                        bw.write(code, length)
                        r -= 16
                        for b in br_bits:
                            bw.write(b, 1)
                        br_bits = []
                    if mag > 1:  # history-nonzero: correction bit only
                        br_bits.append(mag & 1)
                        continue
                    emit_eobrun()
                    code, length = ac_codes[(r << 4) | 1]
                    bw.write(code, length)
                    r = 0
                    bw.write(1 if int(blk[k]) >= 0 else 0, 1)
                    for b in br_bits:
                        bw.write(b, 1)
                    br_bits = []
                if r > 0 or br_bits:
                    eobrun += 1
                    be_bits.extend(br_bits)
                    if eobrun == 0x7FFF or len(be_bits) > 937:
                        emit_eobrun()
        emit_eobrun()
        out += bw.flush()
    return bytes(out)


def jpeg_encode_gray_progressive(
    pixels: np.ndarray, restart_interval: int = 0
) -> bytes:
    """Encode a (h, w) uint8 array as a PROGRESSIVE (SOF2) grayscale JFIF
    JPEG: spectral selection + successive approximation over the same
    quantized coefficients the baseline encoder produces, so a full decode
    is bit-identical to decoding the baseline stream of the same image."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("jpeg_encode_gray_progressive expects a 2-D array")
    h, w = px.shape
    zz_r = [rc[0] for rc in _ZIGZAG]
    zz_c = [rc[1] for rc in _ZIGZAG]
    qzz = _plane_qcoef(px.astype(np.float64), _JPEG_Q)[:, :, zz_r, zz_c]
    ac_bits, ac_vals = _uniform_ac_huffman()
    scans = _emit_progressive_scans(
        [qzz], [(1, 1)], [1], [_huffman_codes(_DC_BITS, _DC_VALS)], [0],
        _huffman_codes(ac_bits, ac_vals), h, w, restart_interval,
    )
    sof = b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3, 8, h, w, 1) + bytes(
        [1, 0x11, 0]
    )
    dht = _dht_segment(0x00, _DC_BITS, _DC_VALS) + _dht_segment(
        0x10, ac_bits, ac_vals
    )
    return (
        b"\xff\xd8" + _APP0 + _dqt_segment(0x00, _JPEG_Q) + sof + dht
        + _dri_segment(restart_interval) + scans + b"\xff\xd9"
    )


def jpeg_encode_rgb_progressive(
    pixels: np.ndarray, subsampling: str = "4:4:4", restart_interval: int = 0
) -> bytes:
    """Encode a (h, w, 3) uint8 RGB array as a PROGRESSIVE (SOF2) YCbCr
    JFIF JPEG at 4:4:4 or 4:2:0 sampling — interleaved DC scans, per-
    component spectral AC bands, two successive-approximation refinement
    passes; coefficients identical to the baseline encoder's."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("jpeg_encode_rgb_progressive expects (h, w, 3)")
    if subsampling not in ("4:4:4", "4:2:0", "4:2:2"):
        raise NotImplementedError(
            f"subsampling {subsampling!r} unsupported (4:4:4, 4:2:0 or 4:2:2)"
        )
    h, w = px.shape[:2]
    y, cb, cr = _rgb_to_ycbcr(px)
    zz_r = [rc[0] for rc in _ZIGZAG]
    zz_c = [rc[1] for rc in _ZIGZAG]
    if subsampling == "4:4:4":
        samplings = [(1, 1)] * 3
        y_sampling = 0x11
        planes = [
            _plane_qcoef(y, _JPEG_Q),
            _plane_qcoef(cb, _JPEG_QC),
            _plane_qcoef(cr, _JPEG_QC),
        ]
    elif subsampling == "4:2:2":
        samplings = [(2, 1), (1, 1), (1, 1)]
        y_sampling = 0x21
        ph, pw = (h + 7) // 8 * 8, (w + 15) // 16 * 16
        planes = [_plane_qcoef(_pad_replicate(y, 8, 16), _JPEG_Q)] + [
            _plane_qcoef(
                _pad_replicate(p, 8, 16).reshape(ph, pw // 2, 2).mean(axis=2),
                _JPEG_QC,
            )
            for p in (cb, cr)
        ]
    else:
        samplings = [(2, 2), (1, 1), (1, 1)]
        y_sampling = 0x22
        ph, pw = (h + 15) // 16 * 16, (w + 15) // 16 * 16
        planes = [_plane_qcoef(_pad_replicate(y, 16), _JPEG_Q)] + [
            _plane_qcoef(
                _pad_replicate(p, 16)
                .reshape(ph // 2, 2, pw // 2, 2)
                .mean(axis=(1, 3)),
                _JPEG_QC,
            )
            for p in (cb, cr)
        ]
    qzz = [p[:, :, zz_r, zz_c] for p in planes]
    ac_bits, ac_vals = _uniform_ac_huffman()
    dc_luma = _huffman_codes(_DC_BITS, _DC_VALS)
    dc_chroma = _huffman_codes(_DC_BITS_C, _DC_VALS_C)
    scans = _emit_progressive_scans(
        qzz, samplings, [1, 2, 3], [dc_luma, dc_chroma, dc_chroma], [0, 1, 1],
        _huffman_codes(ac_bits, ac_vals), h, w, restart_interval,
    )
    sof = (
        b"\xff\xc2"
        + struct.pack(">HBHHB", 8 + 3 * 3, 8, h, w, 3)
        + bytes([1, y_sampling, 0, 2, 0x11, 1, 3, 0x11, 1])
    )
    dht = (
        _dht_segment(0x00, _DC_BITS, _DC_VALS)
        + _dht_segment(0x01, _DC_BITS_C, _DC_VALS_C)
        + _dht_segment(0x10, ac_bits, ac_vals)
    )
    return (
        b"\xff\xd8" + _APP0
        + _dqt_segment(0x00, _JPEG_Q) + _dqt_segment(0x01, _JPEG_QC)
        + sof + dht + _dri_segment(restart_interval) + scans + b"\xff\xd9"
    )


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream exhausted")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _huffman_decoder(bits, vals) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, canonical assignment (JPEG C.2)."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_symbol(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    if table is None:
        raise ValueError("JPEG scan references an undefined Huffman table")
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    """Inverse of magnitude coding (JPEG F.2.2.1 EXTEND)."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _split_entropy(raw: bytes) -> list[tuple[bytes, int | None]]:
    """Split a scan's entropy bytes at RSTn markers, unstuffing each
    segment: returns [(segment, following RST number or None for the
    last)]. Byte stuffing guarantees the only FF-sequences inside entropy
    data are FF 00 (stuffed FF), FF FF fill, and FF D0–D7 restarts."""
    segments: list[tuple[bytes, int | None]] = []
    seg = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        b = raw[i]
        if b != 0xFF:
            seg.append(b)
            i += 1
            continue
        if i + 1 >= n:  # trailing FF: fill byte before EOI
            break
        nxt = raw[i + 1]
        if nxt == 0x00:  # stuffed data FF
            seg.append(0xFF)
            i += 2
        elif nxt == 0xFF:  # fill byte
            i += 1
        elif 0xD0 <= nxt <= 0xD7:
            segments.append((bytes(seg), nxt - 0xD0))
            seg = bytearray()
            i += 2
        else:
            raise ValueError(
                f"unexpected marker FF {nxt:02X} inside JPEG entropy data"
            )
    segments.append((bytes(seg), None))
    return segments


def _find_scan_end(data: bytes, pos: int) -> int:
    """Position of the marker terminating the entropy data that starts at
    ``pos``: the first FF followed by anything but 00 (stuffing), FF
    (fill), or D0–D7 (restart). Raises if the stream ends first."""
    i = pos
    n = len(data)
    while True:
        f = data.find(b"\xff", i)
        if f < 0 or f + 1 >= n:
            raise ValueError("not a JPEG: missing EOI (truncated stream)")
        nxt = data[f + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            i = f + 2
        elif nxt == 0xFF:
            i = f + 1
        else:
            return f


def _decode_block(br: "_BitReader", zz: np.ndarray, prev_dc: int,
                  dc_table, ac_table) -> int:
    """Entropy-decode one zigzag-flat 64-coefficient block in place (JPEG
    F.2.2, baseline DC+AC); returns the new DC predictor."""
    size = _read_symbol(br, dc_table)
    prev_dc += _extend(br.read_bits(size), size)
    zz[0] = prev_dc
    k = 1
    while k <= 63:
        sym = _read_symbol(br, ac_table)
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run != 15:
                raise ValueError("invalid JPEG AC symbol")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("JPEG AC coefficient index overflow")
        zz[k] = _extend(br.read_bits(size), size)
        k += 1
    return prev_dc


# --- progressive scan primitives (JPEG G.2 / the classic jdphuff logic) ---


def _decode_dc_first(br: "_BitReader", zz: np.ndarray, prev_dc: int,
                     al: int, dc_table) -> int:
    """DC first scan: magnitude-coded diff of the point-transformed DC;
    stored shifted back up by the successive-approximation low bit."""
    size = _read_symbol(br, dc_table)
    prev_dc += _extend(br.read_bits(size), size)
    zz[0] = prev_dc << al
    return prev_dc


def _decode_dc_refine(br: "_BitReader", zz: np.ndarray, al: int) -> None:
    """DC refinement scan: one bit per block, ORed in at position al."""
    if br.read_bit():
        zz[0] |= 1 << al


def _decode_ac_first(br: "_BitReader", zz: np.ndarray, ss: int, se: int,
                     al: int, ac_table, eobrun: int) -> int:
    """AC first scan for one block (spectral band ss..se): run/size coding
    with EOBn run lengths; newly-seen coefficients enter at ``<< al``.
    Returns the updated EOB run (blocks still to skip)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _read_symbol(br, ac_table)
        r, s = sym >> 4, sym & 0x0F
        if s:
            k += r
            if k > se:
                raise ValueError("JPEG AC coefficient index overflow")
            zz[k] = _extend(br.read_bits(s), s) << al
            k += 1
        else:
            if r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += br.read_bits(r)
                return eobrun - 1  # this block is the first of the run
            k += 16  # ZRL
    return 0


def _refine_nonzero(br: "_BitReader", zz: np.ndarray, k: int, p1: int) -> None:
    """Append a correction bit to an already-nonzero coefficient."""
    if br.read_bit():
        if (int(zz[k]) & p1) == 0:
            zz[k] += p1 if zz[k] >= 0 else -p1


def _decode_ac_refine(br: "_BitReader", zz: np.ndarray, ss: int, se: int,
                      al: int, ac_table, eobrun: int) -> int:
    """AC refinement scan for one block: newly-significant coefficients
    arrive as ±1<<al; every already-nonzero coefficient in the band gets a
    correction bit. Returns the updated EOB run."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _read_symbol(br, ac_table)
            r, s = sym >> 4, sym & 0x0F
            val = 0
            if s:
                val = p1 if br.read_bit() else -p1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += br.read_bits(r)
                break
            # advance over r zero-history coefficients, correcting the
            # nonzero-history ones passed on the way (runs count zero
            # history only)
            while k <= se:
                if zz[k] != 0:
                    _refine_nonzero(br, zz, k, p1)
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # EOB tail: correction bits keep flowing
            if zz[k] != 0:
                _refine_nonzero(br, zz, k, p1)
            k += 1
        eobrun -= 1
    return eobrun


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode a baseline-sequential (SOF0) or progressive (SOF2) JPEG:
    grayscale streams return a (h, w) uint8 array, YCbCr color streams a
    (h, w, 3) uint8 RGB array.

    Reads DQT/DHT from the stream (canonical Huffman rebuild), entropy-
    decodes the (interleaved, for color) scan with byte unstuffing,
    dequantizes, applies the inverse DCT batched over all blocks per
    component, upsamples subsampled chroma (sample-and-hold), converts
    YCbCr→RGB for three-component streams, and crops the MCU padding.
    Restart-marker streams (DRI + RSTn) decode: the entropy stream is
    split at the markers, each interval starts byte-aligned with fresh DC
    predictors, and the D0–D7 modulo sequence is verified. Supported
    sampling: all components 1×1 (4:4:4 / grayscale) or 2×2 luma with 1×1
    chroma (4:2:0). Progressive (SOF2) streams decode through the G.2 scan
    machinery: spectral-selection bands, successive-approximation first and
    refinement passes (DC and AC), EOBn run lengths, per-scan Huffman
    redefinition — and a truncated scan sequence still yields the coarse
    image. Other sampling layouts, 12-bit, and arithmetic-coded streams
    are outside the supported subset and raise.
    """
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = None
    # (component id, h sampling, v sampling, quant table id)
    comps: list[tuple[int, int, int, int]] = []
    # each scan: (comp entries [(ci, dc_table, ac_table)], ss, se, ah, al,
    #             entropy segments, restart interval at SOS time)
    scans: list[tuple] = []
    progressive = False
    restart_interval = 0
    saw_eoi = False
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        # optional 0xFF fill bytes may precede any marker (spec B.1.1.2) —
        # without the skip, 'FF FF C4' reads marker=0xFF and misparses the
        # next bytes as a segment length (same handling _find_scan_end
        # applies inside entropy data)
        while pos + 2 <= len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(data):
            break
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            saw_eoi = True
            break
        if pos + 4 > len(data):
            break  # truncated segment header
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0x0F
                if prec != 0:
                    raise NotImplementedError("16-bit JPEG quant tables unsupported")
                zz = np.frombuffer(body[b + 1 : b + 65], dtype=np.uint8)
                q = np.zeros((8, 8), dtype=np.int64)
                for k, (r, c) in enumerate(_ZIGZAG):
                    q[r, c] = zz[k]
                qtables[tid] = q
                b += 65
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            b = 0
            while b < len(body):
                cls, tid = body[b] >> 4, body[b] & 0x0F
                bits = tuple(body[b + 1 : b + 17])
                n = sum(bits)
                vals = tuple(body[b + 17 : b + 17 + n])
                htables[(cls, tid)] = _huffman_decoder(bits, vals)
                b += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec} unsupported")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"{ncomp}-component JPEG is outside the supported subset "
                    "(8-bit grayscale / 4:4:4 YCbCr)"
                )
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("truncated JPEG SOF segment")
            for ci in range(ncomp):
                cid, sampling, qid = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, sampling >> 4, sampling & 0x0F, qid))
            samplings = [(hs, vs) for _cid, hs, vs, _q in comps]
            if not (
                all(s == (1, 1) for s in samplings)
                or (
                    ncomp == 3
                    and samplings[0] in ((2, 2), (2, 1), (1, 2))
                    and samplings[1] == samplings[2] == (1, 1)
                )
            ):
                raise NotImplementedError(
                    "only 4:4:4 (all 1×1), 4:2:0 (luma 2×2), 4:2:2 (luma "
                    "2×1) and 4:4:0 (luma 1×2) sampling is supported"
                )
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "only baseline sequential (SOF0) and progressive (SOF2) "
                "JPEG are supported"
            )
        elif marker == 0xDD:  # DRI — restart interval in MCUs (0 = none)
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — scan header + entropy data
            ns = body[0]
            if not progressive and (ns != len(comps) or scans):
                raise NotImplementedError(
                    "multi-scan JPEG is outside the supported subset "
                    "(baseline must be one interleaved scan)"
                )
            cids = [c[0] for c in comps]
            entries = []
            for si in range(ns):
                cs, tid = body[1 + 2 * si], body[2 + 2 * si]
                entries.append(
                    (
                        cids.index(cs),
                        htables.get((0, tid >> 4)),
                        htables.get((1, tid & 0x0F)),
                    )
                )
            ss, se, ahl = body[1 + 2 * ns : 4 + 2 * ns]
            end = _find_scan_end(data, pos)
            scans.append(
                (
                    entries,
                    ss,
                    se,
                    ahl >> 4,
                    ahl & 0x0F,
                    _split_entropy(data[pos:end]),
                    restart_interval,
                )
            )
            pos = end
        # APPn / COM / others: skipped
    if h is None or not scans:
        raise ValueError("not a JPEG: missing SOF/SOS")
    if not saw_eoi:
        raise ValueError("not a JPEG: missing EOI (truncated stream)")
    max_h = max(hs for _c, hs, _v, _q in comps)
    max_v = max(vs for _c, _h, vs, _q in comps)
    mcu_w, mcu_h = 8 * max_h, 8 * max_v
    n_mcu_i = (h + mcu_h - 1) // mcu_h
    n_mcu_j = (w + mcu_w - 1) // mcu_w
    # zigzag-flat coefficient planes, MCU-padded grids
    coef = [
        np.zeros((n_mcu_i * vs, n_mcu_j * hs, 64), dtype=np.int64)
        for _cid, hs, vs, _q in comps
    ]
    # non-interleaved scans address each component's own unpadded block grid
    comp_blocks = [
        (
            ((h * vs + max_v - 1) // max_v + 7) // 8,
            ((w * hs + max_h - 1) // max_h + 7) // 8,
        )
        for _cid, hs, vs, _q in comps
    ]

    for entries, ss, se, ah, al, segments, interval in scans:
        if len(segments) > 1 and interval == 0:
            raise ValueError("JPEG RST marker found but no DRI segment declared")
        interleaved = len(entries) > 1
        if progressive and ss > 0 and interleaved:
            raise ValueError("progressive AC scans must be non-interleaved")
        if interleaved or not progressive:
            # MCU-ordered scan (baseline, or progressive DC with ns > 1)
            n_units = n_mcu_i * n_mcu_j
        else:
            ci0 = entries[0][0]
            nbi, nbj = comp_blocks[ci0]
            n_units = nbi * nbj
        seg_idx = 0
        br = _BitReader(segments[0][0])
        prev = [0] * len(comps)
        eobrun = 0
        for idx in range(n_units):
            if interval and idx and idx % interval == 0:
                # restart boundary: verify D0–D7 sequence, re-align,
                # reset DC predictors and the EOB run
                expected = (idx // interval - 1) & 7
                if seg_idx + 1 >= len(segments):
                    raise ValueError("JPEG entropy stream missing RST marker")
                if segments[seg_idx][1] != expected:
                    raise ValueError(
                        f"JPEG RST sequence error: expected RST{expected}, "
                        f"found RST{segments[seg_idx][1]}"
                    )
                seg_idx += 1
                br = _BitReader(segments[seg_idx][0])
                prev = [0] * len(comps)
                eobrun = 0
            if interleaved or not progressive:
                mi, mj = divmod(idx, n_mcu_j)
                for ci, dc_table, ac_table in entries:
                    _cid, hs, vs, _q = comps[ci]
                    for di in range(vs):
                        for dj in range(hs):
                            blk = coef[ci][mi * vs + di, mj * hs + dj]
                            if not progressive:
                                prev[ci] = _decode_block(
                                    br, blk, prev[ci], dc_table, ac_table
                                )
                            elif ah == 0:
                                prev[ci] = _decode_dc_first(
                                    br, blk, prev[ci], al, dc_table
                                )
                            else:
                                _decode_dc_refine(br, blk, al)
            else:
                ci, dc_table, ac_table = entries[0]
                bi, bj = divmod(idx, comp_blocks[ci][1])
                blk = coef[ci][bi, bj]
                if ss == 0:  # non-interleaved DC scan
                    if ah == 0:
                        prev[ci] = _decode_dc_first(br, blk, prev[ci], al, dc_table)
                    else:
                        _decode_dc_refine(br, blk, al)
                elif ah == 0:
                    eobrun = _decode_ac_first(
                        br, blk, ss, se, al, ac_table, eobrun
                    )
                else:
                    eobrun = _decode_ac_refine(
                        br, blk, ss, se, al, ac_table, eobrun
                    )

    zz_r = [rc[0] for rc in _ZIGZAG]
    zz_c = [rc[1] for rc in _ZIGZAG]
    planes = []
    for ci, (_cid, hs, vs, qid) in enumerate(comps):
        nbi, nbj = coef[ci].shape[:2]
        deq = np.zeros((nbi, nbj, 8, 8), dtype=np.int64)
        deq[:, :, zz_r, zz_c] = coef[ci] * qtables[qid][zz_r, zz_c]
        blocks = np.einsum(
            "xu,bcuv,yv->bcxy", _DCT_M.T, deq.astype(np.float64), _DCT_M.T
        )
        plane = (blocks + 128.0).transpose(0, 2, 1, 3).reshape(
            n_mcu_i * vs * 8, n_mcu_j * hs * 8
        )
        if vs < max_v or hs < max_h:  # chroma upsample (sample-and-hold)
            plane = np.repeat(
                np.repeat(plane, max_v // vs, axis=0), max_h // hs, axis=1
            )
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(*planes)


def _jpeg_sof_ncomp(data: bytes) -> int | None:
    """Component count from the SOF0/SOF2 segment, found by WALKING the
    marker stream (a raw byte find would match FF C0 inside APPn/COM
    payloads — e.g. an EXIF thumbnail, itself a JPEG with its own SOF)."""
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            return None
        while pos + 4 <= len(data) and data[pos + 1] == 0xFF:
            pos += 1  # optional fill bytes before a marker (B.1.1.2)
        if pos + 4 > len(data):
            return None  # truncated stream ending in fill bytes
        marker = data[pos + 1]
        if marker in (0xD9, 0xDA):  # EOI / SOS: no SOF seen
            return None
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if marker in (0xC0, 0xC2):
            return data[pos + 2 + 7] if pos + 2 + 7 < len(data) else None
        pos += 2 + seglen
    return None


def jpeg_decode_gray(data: bytes) -> np.ndarray:
    """Decode a baseline sequential GRAYSCALE JPEG to a (h, w) uint8 array
    (the single-component subset of :func:`jpeg_decode`; a color stream
    raises instead of silently returning luma)."""
    ncomp = _jpeg_sof_ncomp(data)
    if ncomp is not None and ncomp != 1:
        raise NotImplementedError(
            f"{ncomp}-component JPEG is outside the supported subset "
            "(8-bit grayscale) — use jpeg_decode"
        )
    return jpeg_decode(data)
