"""FLAC codec pins (functions/flac.py) — the lossless-audio analog of
the PNG test strategy: exact round trips at every bit depth and
stereo mode, hand-built bitstreams for the decoder-only paths our
encoder never emits (LPC, wasted bits, Rice partitions, escape codes,
variable blocking, follow-on header forms), a truncation sweep at
EVERY byte offset, CRC corruption, bomb guards, and a Hypothesis
round-trip property over random signals.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tableone_pyspark_spark.functions import flac
from tableone_pyspark_spark.functions.flac import (
    _crc8,
    _crc16,
    _Writer,
    _utf8_number,
)


def _rng(seed=0):
    return np.random.default_rng(seed)


# ---------------------------------------------------------------------------
# round trips (encoder paths: CONSTANT / FIXED+Rice / VERBATIM)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("bits", [4, 8, 12, 16, 20, 24, 32])
@pytest.mark.parametrize("channels", [1, 2, 3])
def test_round_trip_depths(bits, channels):
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    arr = _rng(bits * 7 + channels).integers(lo, hi + 1, size=(777, channels))
    p = flac.encode_flac(arr, 44_100, bits=bits, block_size=256)
    out, rate, b = flac.decode_flac_int(p, verify_md5=True)
    assert (rate, b) == (44_100, bits)
    assert np.array_equal(out.astype(np.int64), arr)


@pytest.mark.parametrize("mode", ["left-side", "right-side", "mid-side"])
@pytest.mark.parametrize("bits", [8, 16, 32])
def test_round_trip_stereo_decorrelation(mode, bits):
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    arr = _rng(3).integers(lo, hi + 1, size=(300, 2))
    p = flac.encode_flac(arr, 8_000, bits=bits, block_size=128, stereo_mode=mode)
    out, _, _ = flac.decode_flac_int(p, verify_md5=True)
    assert np.array_equal(out.astype(np.int64), arr)


def test_float_input_matches_wav_quantization():
    t = np.arange(2000)
    sine = 0.5 * np.sin(2 * np.pi * 440 * t / 8000)
    out, rate = flac.decode_flac(flac.encode_flac(sine, 8000, bits=16))
    q = np.clip(np.round(sine * 32768), -32768, 32767) / 32768.0
    assert rate == 8000 and np.array_equal(out[:, 0], q)


def test_fixed_predictors_actually_compress():
    # a smooth signal must beat raw PCM (proves the FIXED+Rice path is
    # the one taken, not VERBATIM)
    t = np.arange(4000)
    sine = np.round(3000 * np.sin(2 * np.pi * 50 * t / 8000)).astype(np.int64)
    p = flac.encode_flac(sine, 8000, bits=16)
    assert len(p) < 2 * sine.size * 0.8


def test_constant_blocks_and_meta():
    const = np.full((500, 2), 1234, dtype=np.int64)
    p = flac.encode_flac(const, 16_000, bits=16)
    assert flac.is_flac(p)
    assert flac.flac_meta(p) == (16_000, 2, 16, 500)
    out, _, _ = flac.decode_flac_int(p, verify_md5=True)
    assert np.array_equal(out.astype(np.int64), const)
    # constant frames are tiny
    assert len(p) < 120


def test_empty_and_single_sample():
    out, rate, _ = flac.decode_flac_int(
        flac.encode_flac(np.zeros((0, 1)), 8000, bits=16)
    )
    assert out.shape == (0, 1) and rate == 8000
    out, _, _ = flac.decode_flac_int(
        flac.encode_flac(np.array([[-7]]), 8000, bits=16), verify_md5=True
    )
    assert out.tolist() == [[-7]]


def test_multi_frame_stream():
    arr = _rng(9).integers(-128, 128, size=(10_000, 1))
    p = flac.encode_flac(arr, 48_000, bits=8, block_size=1024)
    out, _, _ = flac.decode_flac_int(p, verify_md5=True)
    assert np.array_equal(out.astype(np.int64), arr)


# ---------------------------------------------------------------------------
# hand-built bitstreams: decoder-only paths
# ---------------------------------------------------------------------------


def _streaminfo(rate, channels, bits, total, block=4096) -> bytes:
    packed = (
        (rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) | total
    )
    body = (
        struct.pack(">HH", block, block)
        + b"\x00\x00\x00" * 2
        + packed.to_bytes(8, "big")
        + b"\x00" * 16
    )
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def _frame_header(
    w: _Writer, bs: int, *, variable=False, number=0, ch_code=0, ss_code=4,
    sr_code=0, bs_code=7, follow=None
):
    w.write(0x3FFE, 14)
    w.write(0, 1)
    w.write(1 if variable else 0, 1)
    w.write(bs_code, 4)
    w.write(sr_code, 4)
    w.write(ch_code, 4)
    w.write(ss_code, 3)
    w.write(0, 1)
    for b in _utf8_number(number):
        w.write(b, 8)
    if bs_code == 6:
        w.write(bs - 1, 8)
    elif bs_code == 7:
        w.write(bs - 1, 16)
    if follow is not None:
        w.write(*follow)
    w.write(_crc8(bytes(w.buf)), 8)


def _finish_frame(w: _Writer) -> bytes:
    w.align()
    body = bytes(w.buf)
    return body + struct.pack(">H", _crc16(body))


def test_lpc_subframe_decodes():
    # order-2 LPC: coefs [3, -2], prec 4 bits, shift 1:
    # s[i] = res[i] + ((3*s[i-1] - 2*s[i-2]) >> 1)
    warm = [5, 3]
    res = [2, -1, 0, 3, -2, 1]
    w = _Writer()
    _frame_header(w, 8, ss_code=1)  # 8-bit samples, mono
    w.write(0, 1)
    w.write(32 + 1, 6)  # LPC order 2 = 0b100001
    w.write(0, 1)  # no wasted bits
    for v in warm:
        w.write(v, 8)
    w.write(3, 4)  # precision - 1 = 3 -> 4 bits
    w.write(1, 5)  # shift 1
    w.write(3, 4)  # coef[0] = 3
    w.write(-2, 4)  # coef[1] = -2
    w.write(0, 2)  # residual method 0
    w.write(0, 4)  # partition order 0
    w.write(2, 4)  # rice k = 2
    for r in res:
        u = (r << 1) ^ (r >> 63)
        w.write_unary(u >> 2)
        w.write(u, 2)
    payload = _streaminfo(8000, 1, 8, 8) + _finish_frame(w)
    out, rate, bits = flac.decode_flac_int(payload)
    exp = list(warm)
    for r in res:
        exp.append(r + ((3 * exp[-1] - 2 * exp[-2]) >> 1))
    assert out[:, 0].tolist() == exp and (rate, bits) == (8000, 8)


def test_wasted_bits_shift():
    # all samples share 3 trailing zero bits: flag=1, unary(2) -> 3
    vals = [8, 16, -8, 24]
    w = _Writer()
    _frame_header(w, 4, ss_code=1)
    w.write(0, 1)
    w.write(1, 6)  # VERBATIM
    w.write(1, 1)  # wasted-bits flag
    w.write(1, 3)  # unary 2 zeros + 1 -> wasted = 3
    for v in vals:
        w.write(v >> 3, 5)  # 8-3 = 5 effective bits
    payload = _streaminfo(8000, 1, 8, 4) + _finish_frame(w)
    out, _, _ = flac.decode_flac_int(payload)
    assert out[:, 0].tolist() == vals


def test_rice_partitions_and_escape():
    # 16 samples, fixed order 0, partition order 2 -> 4 partitions;
    # partition 3 uses the escape (raw 6-bit) form
    vals = [1, -2, 3, -4, 10, -11, 12, -13, 0, 0, 1, -1, 20, -21, 22, -23]
    w = _Writer()
    _frame_header(w, 16, ss_code=1)
    w.write(0, 1)
    w.write(8, 6)  # FIXED order 0
    w.write(0, 1)
    w.write(0, 2)  # method 0
    w.write(2, 4)  # partition order 2
    for part in range(4):
        chunk = vals[part * 4 : part * 4 + 4]
        if part == 3:
            w.write(15, 4)  # escape
            w.write(6, 5)  # 6 raw bits
            for r in chunk:
                w.write(r, 6)
        else:
            w.write(1, 4)  # rice k=1
            for r in chunk:
                u = (r << 1) ^ (r >> 63)
                w.write_unary(u >> 1)
                w.write(u, 1)
    payload = _streaminfo(8000, 1, 8, 16) + _finish_frame(w)
    out, _, _ = flac.decode_flac_int(payload)
    assert out[:, 0].tolist() == vals


def test_variable_blocking_and_uncommon_codes():
    # variable blocking strategy (sample-number coded), 8-bit block
    # size follow-on (code 6), sample rate from 16-bit Hz field
    # (code 13), frame sample size from STREAMINFO (code 0)
    vals = [3, 1, 4, 1, 5, 9, 2, 6]
    w = _Writer()
    w.write(0x3FFE, 14)
    w.write(0, 1)
    w.write(1, 1)  # variable
    w.write(6, 4)  # 8-bit block size - 1 follows
    w.write(13, 4)  # 16-bit Hz follows
    w.write(0, 4)  # mono
    w.write(0, 3)  # bits from STREAMINFO
    w.write(0, 1)
    for b in _utf8_number(1 << 20):  # multi-byte UTF-8 sample number
        w.write(b, 8)
    w.write(len(vals) - 1, 8)
    w.write(12_345, 16)
    w.write(_crc8(bytes(w.buf)), 8)
    w.write(0, 1)
    w.write(1, 6)  # VERBATIM
    w.write(0, 1)
    for v in vals:
        w.write(v, 8)
    payload = _streaminfo(8000, 1, 8, len(vals)) + _finish_frame(w)
    out, rate, _ = flac.decode_flac_int(payload)
    assert out[:, 0].tolist() == vals and rate == 12_345


def test_metadata_blocks_skipped():
    # VORBIS_COMMENT + PADDING between STREAMINFO and frames
    base = flac.encode_flac(np.array([[1], [2], [3]] * 20), 8000, bits=16)
    si_len = 4 + 4 + 34
    head, frames = base[:si_len], base[si_len:]
    head = head[:4] + bytes([head[4] & 0x7F]) + head[5:]  # clear last flag
    comment = b"\x04" + (8).to_bytes(3, "big") + b"\x00" * 8
    padding = b"\x81" + (4).to_bytes(3, "big") + b"\x00" * 4  # last
    patched = head + comment + padding + frames
    out, _, _ = flac.decode_flac_int(patched)
    assert out.shape == (60, 1)


# ---------------------------------------------------------------------------
# hostile inputs
# ---------------------------------------------------------------------------


def test_truncations_raise_valueerror_everywhere():
    payload = flac.encode_flac(
        _rng(1).integers(-500, 500, size=(100, 2)), 8000, bits=16, block_size=32
    )
    for cut in range(len(payload)):
        with pytest.raises(ValueError):
            flac.decode_flac_int(payload[:cut])


def test_corruption_caught_by_crc():
    payload = bytearray(
        flac.encode_flac(_rng(2).integers(-500, 500, size=(64, 1)), 8000, bits=16)
    )
    si_end = 4 + 4 + 34
    hits = 0
    for i in range(si_end, len(payload)):
        mutated = bytearray(payload)
        mutated[i] ^= 0xFF
        try:
            out, _, _ = flac.decode_flac_int(bytes(mutated))
        except ValueError:
            hits += 1
    # every frame-section corruption must be caught (sync, CRC-8,
    # CRC-16, or a structural check)
    assert hits == len(payload) - si_end


def test_validation_errors():
    with pytest.raises(ValueError, match="not a FLAC"):
        flac.decode_flac_int(b"fLaX" + b"\x00" * 40)
    with pytest.raises(ValueError, match="STREAMINFO"):
        # first block is PADDING, not STREAMINFO
        flac.decode_flac_int(b"fLaC" + b"\x81" + (4).to_bytes(3, "big") + b"\x00" * 4)
    with pytest.raises(ValueError, match="34 bytes"):
        flac.decode_flac_int(b"fLaC" + b"\x80" + (10).to_bytes(3, "big") + b"\x00" * 10)
    with pytest.raises(ValueError, match="truncated"):
        flac.decode_flac_int(b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + b"\x00" * 20)
    good = flac.encode_flac(np.array([[1], [2]]), 8000, bits=16)
    # declared total samples beyond what frames carry -> truncated
    si = bytearray(good)
    pos = 8 + 10  # streaminfo body offset + packed-field offset
    packed = int.from_bytes(si[pos : pos + 8], "big") + 5  # total += 5
    si[pos : pos + 8] = packed.to_bytes(8, "big")
    with pytest.raises(ValueError, match="truncated"):
        flac.decode_flac_int(bytes(si))


def test_bomb_guard():
    p = flac.encode_flac(np.zeros((1000, 2)), 8000, bits=16)
    with pytest.raises(ValueError, match="bomb guard"):
        flac.decode_flac_int(p, max_samples=100)


def test_encoder_validation():
    with pytest.raises(ValueError, match="bit depth"):
        flac.encode_flac(np.zeros((4, 1)), 8000, bits=33)
    with pytest.raises(ValueError, match="channels"):
        flac.encode_flac(np.zeros((4, 9)), 8000)
    with pytest.raises(ValueError, match="exactly 2"):
        flac.encode_flac(np.zeros((4, 1)), 8000, stereo_mode="mid-side")
    with pytest.raises(ValueError, match="range"):
        flac.encode_flac(np.array([[300]]), 8000, bits=8)
    # 20-bit STREAMINFO rate field: > 655350 would corrupt adjacent bits
    with pytest.raises(ValueError, match="sample_rate"):
        flac.encode_flac(np.zeros((4, 1)), 655351)
    with pytest.raises(ValueError, match="sample_rate"):
        flac.encode_flac(np.zeros((4, 1)), 0)


def test_zero_frame_sample_rate_raises():
    # frame header sample-rate code 13 (16-bit Hz follow-on) carrying 0
    # must raise, not flow a rate=0 into duration divisions downstream
    vals = [3, 1, 4, 1]
    w = _Writer()
    w.write(0x3FFE, 14)
    w.write(0, 1)
    w.write(0, 1)  # fixed blocking
    w.write(6, 4)  # 8-bit block size - 1 follows
    w.write(13, 4)  # 16-bit Hz follows
    w.write(0, 4)  # mono
    w.write(0, 3)  # bits from STREAMINFO
    w.write(0, 1)
    for b in _utf8_number(0):
        w.write(b, 8)
    w.write(len(vals) - 1, 8)
    w.write(0, 16)  # rate = 0 Hz
    w.write(_crc8(bytes(w.buf)), 8)
    w.write(0, 1)
    w.write(1, 6)  # VERBATIM
    w.write(0, 1)
    for v in vals:
        w.write(v, 8)
    payload = _streaminfo(8000, 1, 8, len(vals)) + _finish_frame(w)
    with pytest.raises(ValueError, match="sample rate"):
        flac.decode_flac_int(payload)


def test_md5_mismatch_detected():
    payload = bytearray(flac.encode_flac(np.array([[5], [6], [7]]), 8000, bits=16))
    payload[8 + 18] ^= 0xFF  # flip an MD5 byte in STREAMINFO
    with pytest.raises(ValueError, match="MD5"):
        flac.decode_flac_int(bytes(payload), verify_md5=True)
    # unverified decode still succeeds (CRCs pass)
    out, _, _ = flac.decode_flac_int(bytes(payload))
    assert out[:, 0].tolist() == [5, 6, 7]


# ---------------------------------------------------------------------------
# property: random signals round trip
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(1, 600),
    bits=st.sampled_from([8, 12, 16, 24, 32]),
    channels=st.integers(1, 2),
    block=st.sampled_from([16, 192, 256]),
    mode=st.sampled_from(["indep", "left-side", "right-side", "mid-side"]),
    smooth=st.booleans(),
)
def test_property_round_trip(seed, n, bits, channels, block, mode, smooth):
    if mode != "indep" and channels != 2:
        mode = "indep"
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    rng = np.random.default_rng(seed)
    if smooth:  # cumulative walk exercises the FIXED predictors
        arr = np.clip(
            rng.integers(-50, 51, size=(n, channels)).cumsum(axis=0), lo, hi
        )
    else:
        arr = rng.integers(lo, hi + 1, size=(n, channels))
    p = flac.encode_flac(arr, 8000, bits=bits, block_size=block, stereo_mode=mode)
    out, rate, b = flac.decode_flac_int(p, verify_md5=True)
    assert (rate, b) == (8000, bits)
    assert np.array_equal(out.astype(np.int64), arr)


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(1, 400),
    mag=st.sampled_from([1, 4, 100, 30_000, 2**28, 2**33]),
    bps=st.sampled_from([8, 16, 17, 24, 32, 33]),
    misalign=st.integers(0, 31),
    smooth=st.booleans(),
)
def test_subframe_vectorized_byte_identity(seed, n, mag, bps, misalign, smooth):
    """r17: the vectorized subframe encoder (np.diff residuals, one-shot
    Rice cost matrix, bulk bit-pack) emits EXACTLY the bytes of the
    pure-Python reference — order/k/escape selection included — from
    any writer bit phase."""
    rng = np.random.default_rng(seed)
    lim = min(mag, 2 ** (bps - 1) - 1)
    if smooth:
        s = np.clip(rng.integers(-50, 51, size=n).cumsum(), -lim - 1, lim)
    else:
        s = rng.integers(-lim - 1, lim + 1, size=n)
    w1, w2 = flac._Writer(), flac._Writer()
    w1.write(misalign, 5)
    w2.write(misalign, 5)
    flac._encode_subframe(w1, np.asarray(s, dtype=np.int64), bps)
    flac._encode_subframe_ref(w2, [int(v) for v in s], bps)
    w1.align()
    w2.align()
    assert w1.bytes() == w2.bytes()
