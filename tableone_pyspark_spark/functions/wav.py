"""Pure-Python WAV (RIFF/WAVE) codec — the audio sibling of
``functions/png.py``.

WAV is a chunked container over raw PCM, fully expressible with
stdlib struct + numpy: the sample rate comes from the ``fmt `` chunk,
sample counts from the ``data`` chunk. ``functions/flac.py`` decodes
FLAC; ``functions/mp3.py`` reads MP3 frame headers only.

Supported (public RIFF/WAVE spec, Microsoft/IBM 1991, + ITU-T G.711):
PCM (wFormatTag 1) at 8 (unsigned), 16/24/32-bit (signed
little-endian), IEEE float32/float64 (wFormatTag 3), A-law
(wFormatTag 6) and µ-law (7) companded telephony audio via the exact
CCITT segment tables, and WAVE_FORMAT_EXTENSIBLE (0xFFFE) resolving
to any of those via the SubFormat GUID; any channel count up to 64,
interleaved; unknown ancillary chunks (LIST, fact, cue, bext, ...)
are skipped with word alignment, matching how real readers behave.

Hostile-input hardening (untrusted corpora): every chunk size is
bounds-checked against the payload BEFORE slicing; total decoded
samples are capped by ``MAX_SAMPLES`` before any allocation; fmt
fields are sanity-ranged (a 4 GHz sample rate or 10^6 channels is a
bomb, not a file). Every hostile path raises ``ValueError`` — never
struct.error, never OOM (same contract as the image codecs).
"""

from __future__ import annotations

import struct

import numpy as np

#: bomb guard: samples × channels before any allocation (~1 GiB of
#: float64 at the cap). Overridable per call.
MAX_SAMPLES = 134_217_728

_PCM_GUID = b"\x01\x00\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
_FLOAT_GUID = b"\x03\x00\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
_ALAW_GUID = b"\x06\x00\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
_ULAW_GUID = b"\x07\x00\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """256-entry int16 expansion tables for µ-law (G.711 §4.2) and
    A-law (§4.1), built from the ITU segment formulas (the classic
    CCITT reference arithmetic — bias 0x84 for µ, 0x55 toggle for A)."""
    ulaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        ulaw[b] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    alaw = np.empty(256, dtype=np.int16)
    for b in range(256):
        a = b ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[b] = t if (a & 0x80) else -t
    return ulaw, alaw


_ULAW_TABLE, _ALAW_TABLE = _g711_tables()


def _linear_to_g711(v: np.ndarray, law: str) -> np.ndarray:
    """int16 -> companded byte via inverse-table nearest search (exact
    segment arithmetic is fiddly; the 256-entry inverse is tiny and
    guarantees encode(decode(b)) == b up to the ±0 duals)."""
    table = _ULAW_TABLE if law == "ulaw" else _ALAW_TABLE
    order = np.argsort(table, kind="stable")
    pos = np.searchsorted(table[order], v)
    pos = np.clip(pos, 0, 255)
    left = np.clip(pos - 1, 0, 255)
    pick = np.where(
        np.abs(table[order[left]].astype(np.int32) - v)
        <= np.abs(table[order[pos]].astype(np.int32) - v),
        left,
        pos,
    )
    return order[pick].astype(np.uint8)


def is_wav(payload: bytes) -> bool:
    return (
        payload is not None
        and len(payload) >= 12
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    )


def _chunks(payload: bytes):
    """Yield (tag, body) for every RIFF sub-chunk, word-aligned and
    bounds-checked. The RIFF size field is deliberately ignored in
    favor of the actual payload length (truncated files lie)."""
    pos = 12
    n = len(payload)
    while pos + 8 <= n:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + size > n:
            raise ValueError(f"WAV truncated mid chunk {tag!r}")
        yield tag, payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    # 1-7 dangling bytes after the final chunk are silently ignored:
    # appended junk/metadata past the last chunk is common in wild WAV
    # files, and real readers skip it (a truncation MID-chunk still
    # raises above — that is the lie worth catching)


class _Fmt:
    __slots__ = ("tag", "channels", "rate", "bits")


def _parse_fmt(body: bytes) -> _Fmt:
    if len(body) < 16:
        raise ValueError("WAV fmt chunk shorter than 16 bytes")
    tag, channels, rate, _bps, _align, bits = struct.unpack_from("<HHIIHH", body, 0)
    if tag == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: real format is a GUID
        if len(body) < 40:
            raise ValueError("WAV extensible fmt chunk shorter than 40 bytes")
        guid = body[24:40]
        if guid == _PCM_GUID:
            tag = 1
        elif guid == _FLOAT_GUID:
            tag = 3
        elif guid == _ALAW_GUID:
            tag = 6
        elif guid == _ULAW_GUID:
            tag = 7
        else:
            raise ValueError(f"WAV: unsupported extensible SubFormat {guid!r}")
    if tag not in (1, 3, 6, 7):
        raise ValueError(
            f"WAV: unsupported format tag {tag} (PCM/float/G.711 only)"
        )
    if not 1 <= channels <= 64:
        raise ValueError(f"WAV: implausible channel count {channels}")
    if not 1 <= rate <= 10_000_000:
        raise ValueError(f"WAV: implausible sample rate {rate}")
    if tag == 1 and bits not in (8, 16, 24, 32):
        raise ValueError(f"WAV: unsupported PCM bit depth {bits}")
    if tag == 3 and bits not in (32, 64):
        raise ValueError(f"WAV: unsupported float bit depth {bits}")
    if tag in (6, 7) and bits != 8:
        raise ValueError(f"WAV: G.711 requires 8 bits per sample, got {bits}")
    f = _Fmt()
    f.tag, f.channels, f.rate, f.bits = tag, channels, rate, bits
    return f


def _find(payload: bytes) -> tuple[_Fmt, bytes]:
    if not is_wav(payload):
        raise ValueError("not a WAV payload")
    fmt = None
    data = None
    for tag, body in _chunks(payload):
        if tag == b"fmt " and fmt is None:
            fmt = _parse_fmt(body)
        elif tag == b"data" and data is None:
            data = body
    if fmt is None:
        raise ValueError("WAV: no fmt chunk")
    if data is None:
        raise ValueError("WAV: no data chunk")
    return fmt, data


def wav_meta(payload: bytes) -> tuple[int, int, int, int]:
    """(sample_rate, n_channels, bits_per_sample, n_samples_per_channel)
    from the chunk walk only — no sample decode."""
    fmt, data = _find(payload)
    frame = fmt.channels * (fmt.bits // 8)
    return fmt.rate, fmt.channels, fmt.bits, len(data) // frame


def decode_wav(
    payload: bytes, max_samples: int = MAX_SAMPLES
) -> tuple[np.ndarray, int]:
    """Decode to ((n_frames, n_channels) float64 in [-1, 1], rate).

    Normalization follows the usual convention: uint8 maps (v−128)/128,
    signed ints divide by 2^(bits−1), floats pass through. A data chunk
    that is not a whole number of frames keeps the complete frames
    (real-world writers truncate mid-frame on crash)."""
    fmt, data = _find(payload)
    bps = fmt.bits // 8
    frame = fmt.channels * bps
    n_frames = len(data) // frame
    if n_frames * fmt.channels > max_samples:
        raise ValueError(
            f"WAV bomb guard: {n_frames}x{fmt.channels} samples exceed "
            f"{max_samples}"
        )
    data = data[: n_frames * frame]
    if fmt.tag in (6, 7):  # G.711 A-law / µ-law: table expansion
        table = _ALAW_TABLE if fmt.tag == 6 else _ULAW_TABLE
        arr = table[np.frombuffer(data, dtype=np.uint8)].astype(np.float64) / 32768.0
    elif fmt.tag == 3:
        dt = "<f4" if fmt.bits == 32 else "<f8"
        arr = np.frombuffer(data, dtype=dt).astype(np.float64)
    elif fmt.bits == 8:
        arr = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif fmt.bits == 24:
        raw = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        # little-endian 3-byte two's complement -> int32 (sign-extend)
        val = (
            raw[:, 0].astype(np.int32)
            | (raw[:, 1].astype(np.int32) << 8)
            | (raw[:, 2].astype(np.int32) << 16)
        )
        val = np.where(val >= 1 << 23, val - (1 << 24), val)
        arr = val.astype(np.float64) / float(1 << 23)
    else:
        dt = "<i2" if fmt.bits == 16 else "<i4"
        arr = np.frombuffer(data, dtype=dt).astype(np.float64) / float(
            1 << (fmt.bits - 1)
        )
    return arr.reshape(n_frames, fmt.channels), fmt.rate


def encode_wav(
    arr: np.ndarray,
    sample_rate: int,
    bits: int = 16,
    float_fmt: bool = False,
    law: str | None = None,
) -> bytes:
    """Fixture/round-trip writer: ``arr`` is (n_frames, n_channels)
    float in [-1, 1] (or already-integer samples for PCM). Writes
    canonical RIFF/WAVE with a 16-byte fmt chunk (PCM) or an 18-byte
    one with cbSize=0 (float / G.711, per spec). ``law`` ∈
    {'ulaw', 'alaw'} compands to 8-bit G.711 (wFormatTag 7 / 6)."""
    arr = np.asarray(arr)
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2:
        raise ValueError("arr must be (n_frames, n_channels)")
    n_frames, channels = arr.shape
    if law is not None:
        if law not in ("ulaw", "alaw"):
            raise ValueError(f"law must be 'ulaw' or 'alaw', got {law!r}")
        lin = np.clip(np.round(arr * 32768.0), -32768, 32767).astype(np.int32)
        data = _linear_to_g711(lin.reshape(-1), law).tobytes()
        tag = 7 if law == "ulaw" else 6
        bits = 8
        fmt_body = struct.pack(
            "<HHIIHH", tag, channels, sample_rate,
            sample_rate * channels, channels, 8,
        ) + struct.pack("<H", 0)
        chunks = b""
        for ctag, body in ((b"fmt ", fmt_body), (b"data", data)):
            chunks += ctag + struct.pack("<I", len(body)) + body
            if len(body) & 1:
                chunks += b"\x00"
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    if float_fmt:
        if bits not in (32, 64):
            raise ValueError("float WAV is 32- or 64-bit")
        data = arr.astype("<f4" if bits == 32 else "<f8").tobytes()
        tag = 3
    elif bits == 8:
        data = (
            np.clip(np.round(arr * 128.0 + 128.0), 0, 255).astype(np.uint8).tobytes()
        )
        tag = 1
    elif bits == 24:
        v = np.clip(
            np.round(arr * float(1 << 23)), -(1 << 23), (1 << 23) - 1
        ).astype(np.int32)
        u = np.where(v < 0, v + (1 << 24), v).astype(np.uint32)
        out = np.empty((u.size, 3), dtype=np.uint8)
        flat = u.reshape(-1)
        out[:, 0] = flat & 0xFF
        out[:, 1] = (flat >> 8) & 0xFF
        out[:, 2] = (flat >> 16) & 0xFF
        data = out.tobytes()
        tag = 1
    elif bits in (16, 32):
        scale = float(1 << (bits - 1))
        dt = "<i2" if bits == 16 else "<i4"
        data = (
            np.clip(np.round(arr * scale), -scale, scale - 1).astype(dt).tobytes()
        )
        tag = 1
    else:
        raise ValueError(f"unsupported bit depth {bits}")

    bps = bits // 8
    fmt_body = struct.pack(
        "<HHIIHH", tag, channels, sample_rate,
        sample_rate * channels * bps, channels * bps, bits,
    )
    if tag == 3:
        fmt_body += struct.pack("<H", 0)  # cbSize, required for non-PCM
    chunks = b""
    for ctag, body in ((b"fmt ", fmt_body), (b"data", data)):
        chunks += ctag + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
