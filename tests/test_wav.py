"""Pure-Python WAV codec.

Round trips across every supported (format × depth), hand-built
header parsing (a WAV written byte-by-byte in the test, not by our
encoder) and chunk-walk hardening."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tableone_pyspark_spark.functions import wav


def _rng(seed=0):
    return np.random.default_rng(seed)


def _sine(n=480, channels=1, freq=440.0, rate=8000):
    t = np.arange(n) / rate
    x = 0.5 * np.sin(2 * np.pi * freq * t)
    return np.stack([x * (c + 1) / channels for c in range(channels)], axis=1)


# ---------------------------------------------------------------------------
# round trips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("bits,float_fmt,tol", [
    (8, False, 1 / 128),
    (16, False, 1 / 32768),
    (24, False, 1 / (1 << 23)),
    (32, False, 1e-9),
    (32, True, 1e-7),
    (64, True, 0.0),
])
def test_round_trip_depths(bits, float_fmt, tol):
    arr = _sine(channels=2)
    payload = wav.encode_wav(arr, 8000, bits=bits, float_fmt=float_fmt)
    assert wav.is_wav(payload)
    out, rate = wav.decode_wav(payload)
    assert rate == 8000
    assert out.shape == arr.shape
    assert np.abs(out - arr).max() <= tol + 1e-12


def test_meta_without_decode():
    payload = wav.encode_wav(_sine(n=123, channels=3), 44100, bits=24)
    assert wav.wav_meta(payload) == (44100, 3, 24, 123)


def test_hand_built_header_with_ancillary_chunks():
    # canonical 2-frame mono 16-bit WAV written byte-by-byte, with a
    # LIST chunk before fmt and an odd-sized chunk exercising word
    # alignment — the decoder must skip both
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    data = struct.pack("<hh", -32768, 32767)
    odd = b"x"  # 1-byte body -> 1 pad byte
    payload = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"  # size field ignored
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"junk" + struct.pack("<I", len(odd)) + odd + b"\x00"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    out, rate = wav.decode_wav(payload)
    assert rate == 16000
    assert out.shape == (2, 1)
    assert out[0, 0] == -1.0
    assert out[1, 0] == pytest.approx(32767 / 32768)


def test_extensible_format_resolves_guid():
    arr = _sine(n=32)
    base = wav.encode_wav(arr, 8000, bits=16)
    # rebuild with a WAVE_FORMAT_EXTENSIBLE fmt chunk wrapping PCM
    ext = (
        struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
        + struct.pack("<HHI", 22, 16, 0)  # cbSize, validbits, chanmask
        + wav._PCM_GUID
    )
    data_off = base.index(b"data")
    payload = (
        base[:12]
        + b"fmt " + struct.pack("<I", len(ext)) + ext
        + base[data_off:]
    )
    out, rate = wav.decode_wav(payload)
    assert np.abs(out - _sine(n=32)).max() <= 1 / 32768 + 1e-12


def test_partial_final_frame_dropped():
    payload = bytearray(wav.encode_wav(_sine(n=10, channels=2), 8000, bits=16))
    # shrink the data chunk by 2 bytes (half a frame): 9 full frames stay
    data_off = bytes(payload).index(b"data")
    (size,) = struct.unpack_from("<I", payload, data_off + 4)
    struct.pack_into("<I", payload, data_off + 4, size - 2)
    out, _ = wav.decode_wav(bytes(payload[:-2]))
    assert out.shape == (9, 2)


# ---------------------------------------------------------------------------
# hostile inputs
# ---------------------------------------------------------------------------


def test_trailing_junk_after_last_chunk_tolerated():
    # 1-7 bytes of appended junk past the final chunk is common in wild
    # files; real readers skip it (mid-chunk truncation still raises)
    base = wav.encode_wav(_sine(n=10, channels=2), 8000, bits=16)
    for junk in (b"\x00", b"junk", b"\xff" * 7):
        out, rate = wav.decode_wav(base + junk)
        assert out.shape == (10, 2) and rate == 8000


def test_truncations_raise_valueerror_everywhere():
    payload = wav.encode_wav(_sine(n=16), 8000, bits=16)
    for cut in range(12, len(payload)):
        try:
            wav.decode_wav(payload[:cut])
        except ValueError:
            pass  # required type; anything else propagates and fails


def test_bomb_and_sanity_guards():
    with pytest.raises(ValueError, match="bomb"):
        wav.decode_wav(
            wav.encode_wav(np.zeros((1000, 2)), 8000, bits=16), max_samples=100
        )
    fmt_bad_rate = struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
    payload = (
        b"RIFF\x00\x00\x00\x00WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt_bad_rate
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="sample rate"):
        wav.decode_wav(payload)
    with pytest.raises(ValueError, match="not a WAV"):
        wav.decode_wav(b"RIFXjunkWAVE")
    with pytest.raises(ValueError, match="no data chunk"):
        wav.decode_wav(
            b"RIFF\x00\x00\x00\x00WAVE"
            + b"fmt " + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        )


def test_unsupported_compressed_format_refused():
    fmt = struct.pack("<HHIIHH", 85, 1, 8000, 16000, 2, 16)  # 85 = MP3
    payload = (
        b"RIFF\x00\x00\x00\x00WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with pytest.raises(ValueError, match="format tag"):
        wav.decode_wav(payload)


# ---------------------------------------------------------------------------
# Hypothesis: PCM round trip within depth tolerance
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.floats(-1.0, 1.0, allow_nan=False, width=32),
                  min_size=0, max_size=500),
    bits=st.sampled_from([8, 16, 24, 32]),
    channels=st.integers(1, 3),
)
def test_pcm_round_trip_property(vals, bits, channels):
    n = (len(vals) // channels) * channels
    arr = np.array(vals[:n], dtype=np.float64).reshape(-1, channels) if n else \
        np.zeros((0, channels))
    out, rate = wav.decode_wav(wav.encode_wav(arr, 8000, bits=bits))
    assert rate == 8000 and out.shape == arr.shape
    tol = 1.5 / (1 << (bits - 1))
    if n:
        assert np.abs(out - np.clip(arr, -1, 1 - 2 ** -(bits - 1))).max() <= tol


# ---------------------------------------------------------------------------
# G.711 µ-law / A-law (r7)
# ---------------------------------------------------------------------------


def test_g711_known_itu_values():
    # classic CCITT reference pairs: µ-law 0xFF decodes to 0, 0x7F to
    # -0 (the ± dual); A-law 0xD5 (0x80 after the 0x55 toggle) is +8
    from tableone_pyspark_spark.functions.wav import _ALAW_TABLE, _ULAW_TABLE

    assert _ULAW_TABLE[0xFF] == 0 and _ULAW_TABLE[0x7F] == 0
    assert _ULAW_TABLE[0x80] == 32124 and _ULAW_TABLE[0x00] == -32124
    assert _ALAW_TABLE[0xD5] == 8 and _ALAW_TABLE[0x55] == -8
    assert _ALAW_TABLE[0xAA] == 32256 and _ALAW_TABLE[0x2A] == -32256


def test_g711_encode_decode_idempotent_on_all_bytes():
    # decode -> re-encode must reproduce every byte (up to the µ-law
    # ±0 dual 0x7F/0xFF, which share the value 0)
    from tableone_pyspark_spark.functions.wav import (
        _ALAW_TABLE,
        _ULAW_TABLE,
        _linear_to_g711,
    )

    b = np.arange(256, dtype=np.int64)
    ru = _linear_to_g711(_ULAW_TABLE[b].astype(np.int32), "ulaw")
    mism = b[ru != b]
    assert set(mism.tolist()) <= {0x7F, 0xFF}, mism
    ra = _linear_to_g711(_ALAW_TABLE[b].astype(np.int32), "alaw")
    assert np.array_equal(ra, b)


@pytest.mark.parametrize("law,tag", [("ulaw", 7), ("alaw", 6)])
def test_g711_wav_round_trip(law, tag):
    arr = _sine(n=400, channels=2)
    payload = wav.encode_wav(arr, 8000, law=law)
    rate_, ch, bits, n = wav.wav_meta(payload)
    assert (rate_, ch, bits, n) == (8000, 2, 8, 400)
    (t,) = struct.unpack_from("<H", payload, 20)
    assert t == tag
    out, rate = wav.decode_wav(payload)
    assert rate == 8000 and out.shape == (400, 2)
    # companding error bound: the coarsest (top) segment steps by
    # 1024/32768 (µ) resp. 512/32768 (A) — half-step plus rounding
    assert np.abs(out - arr).max() <= 0.016


def test_g711_extensible_guid_resolves(spark=None):
    base = wav.encode_wav(_sine(n=64), 8000, law="ulaw")
    # rebuild as WAVE_FORMAT_EXTENSIBLE with the µ-law SubFormat GUID
    from tableone_pyspark_spark.functions.wav import _ULAW_GUID

    data_off = base.index(b"data")
    data = base[data_off + 8 : data_off + 8 + 64]
    fmt = struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 8000, 1, 8)
    fmt += struct.pack("<HHI", 22, 8, 0) + _ULAW_GUID
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    payload = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    out, rate = wav.decode_wav(payload)
    ref, _ = wav.decode_wav(base)
    assert np.array_equal(out, ref)


def test_g711_validation():
    with pytest.raises(ValueError, match="law must be"):
        wav.encode_wav(_sine(n=8), 8000, law="mulaw")
    # G.711 fmt chunk claiming 16 bits is a structural lie
    payload = bytearray(wav.encode_wav(_sine(n=8), 8000, law="alaw"))
    struct.pack_into("<H", payload, 34, 16)
    with pytest.raises(ValueError, match="G.711 requires 8 bits"):
        wav.decode_wav(bytes(payload))
