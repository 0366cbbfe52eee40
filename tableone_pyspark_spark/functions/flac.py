"""Pure-Python FLAC codec (RFC 9639 / xiph.org spec) — the lossless
compressed-audio sibling of ``functions/wav.py``, and the codec-track
answer to the "compressed formats remain honest stubs" boundary: FLAC
is lossless, so — exactly like PNG on the image side — decoded
samples admit byte-exact oracles and round-trip pins.

Decoder coverage (the full subset real encoders emit):
  - metadata walk: STREAMINFO (mandatory first block) parsed, every
    other block type skipped by declared length
  - frame headers: fixed and variable blocking strategies, all block
    size / sample rate / sample size codes (incl. the uncommon 8/16
    bit follow-on forms), UTF-8-coded frame/sample numbers, CRC-8
  - subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32
    (quantized coefficients + signed shift), wasted-bits unary prefix
  - residual: 4-bit (method 0) and 5-bit (method 1) Rice codes with
    partition orders 0-15 and the escape-to-raw form; Python ints
    make >32-bit intermediates (33-bit side channel, high-order
    fixed residuals at 32 bps) exact by construction
  - stereo decorrelation: independent, left/side, right/side,
    mid/side (side channel decoded at bps+1 per spec)
  - integrity: CRC-8 on every frame header, CRC-16 on every frame,
    optional MD5 check of the decoded stream vs STREAMINFO

Encoder (fixture/round-trip writer, spec-conformant output): per
block and channel the cheapest of CONSTANT / FIXED order 0-4 with
Rice residuals (exact cost scan over k, escape when raw is cheaper)
/ VERBATIM; independent or left-side/right-side/mid-side stereo;
STREAMINFO carries the true MD5.

Hostile-input hardening (untrusted corpora, same contract as every
codec in this package): every read is bounds-checked BEFORE slicing,
reserved/invalid code points raise, total decoded samples are capped
by ``MAX_SAMPLES`` before any allocation, and every hostile path
raises ``ValueError`` — never struct.error, never IndexError, never
OOM. Truncation at ANY byte offset raises ValueError (pinned in
tests across every offset of a reference stream).

No counterpart in the reference repo (tableone_pyspark.py is a
tabular engine); it is the lossless sibling of ``functions/wav.py``.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

#: bomb guard: total samples (frames × channels) before any allocation.
MAX_SAMPLES = 134_217_728

_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_SAMPLE_SIZE_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
_SAMPLE_SIZE_BITS = {v: k for k, v in _SAMPLE_SIZE_CODES.items()}
_SAMPLE_RATE_CODES = {
    1: 88_200, 2: 176_400, 3: 192_000, 4: 8_000, 5: 16_000, 6: 22_050,
    7: 24_000, 8: 32_000, 9: 44_100, 10: 48_000, 11: 96_000,
}


def is_flac(payload: bytes) -> bool:
    return payload is not None and len(payload) >= 4 and payload[:4] == b"fLaC"


# ---------------------------------------------------------------------------
# CRCs (frame header CRC-8 poly 0x07, frame CRC-16 poly 0x8005; both
# init 0 per spec)
# ---------------------------------------------------------------------------


def _crc_table(poly: int, width: int) -> list[int]:
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    tbl = []
    for b in range(256):
        r = b << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) if r & top else (r << 1)
        tbl.append(r & mask)
    return tbl


_CRC8_TBL = _crc_table(0x07, 8)
_CRC16_TBL = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC8_TBL[c ^ b]
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC16_TBL[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


# ---------------------------------------------------------------------------
# bit reader (MSB-first, per spec)
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("data", "pos")  # pos in BITS

    def __init__(self, data: bytes, bit_pos: int = 0):
        self.data = data
        self.pos = bit_pos

    def read(self, n: int) -> int:
        end = self.pos + n
        if end > len(self.data) * 8:
            raise ValueError("FLAC truncated mid bitstream")
        v = 0
        pos = self.pos
        data = self.data
        while n > 0:
            byte = data[pos >> 3]
            off = pos & 7
            take = min(8 - off, n)
            v = (v << take) | ((byte >> (8 - off - take)) & ((1 << take) - 1))
            pos += take
            n -= take
        self.pos = pos
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        """Count of 0 bits before the next 1 bit (FLAC unary form)."""
        q = 0
        while True:
            if self.pos >= len(self.data) * 8:
                raise ValueError("FLAC truncated mid unary code")
            if (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1:
                self.pos += 1
                return q
            self.pos += 1
            q += 1

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


# ---------------------------------------------------------------------------
# metadata
# ---------------------------------------------------------------------------


class _StreamInfo:
    __slots__ = (
        "min_block", "max_block", "rate", "channels", "bits",
        "total_samples", "md5",
    )


def _parse_streaminfo(body: bytes) -> _StreamInfo:
    if len(body) != 34:
        raise ValueError(f"FLAC STREAMINFO must be 34 bytes, got {len(body)}")
    si = _StreamInfo()
    si.min_block, si.max_block = struct.unpack_from(">HH", body, 0)
    packed = int.from_bytes(body[10:18], "big")
    si.rate = packed >> 44
    si.channels = ((packed >> 41) & 0x7) + 1
    si.bits = ((packed >> 36) & 0x1F) + 1
    si.total_samples = packed & ((1 << 36) - 1)
    si.md5 = body[18:34]
    if si.rate == 0:
        raise ValueError("FLAC STREAMINFO: sample rate 0")
    if si.min_block < 16 and si.min_block != 0:
        raise ValueError(f"FLAC STREAMINFO: block size {si.min_block} < 16")
    return si


def _walk_metadata(payload: bytes) -> tuple[_StreamInfo, int]:
    """Parse the metadata section; returns (streaminfo, first frame
    byte offset)."""
    if not is_flac(payload):
        raise ValueError("not a FLAC payload")
    pos = 4
    si = None
    last = False
    first = True
    while not last:
        if pos + 4 > len(payload):
            raise ValueError("FLAC truncated mid metadata header")
        hdr = payload[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        pos += 4
        if pos + length > len(payload):
            raise ValueError("FLAC truncated mid metadata block")
        if first:
            if btype != 0:
                raise ValueError("FLAC: first metadata block must be STREAMINFO")
            si = _parse_streaminfo(payload[pos : pos + length])
            first = False
        elif btype == 0:
            raise ValueError("FLAC: duplicate STREAMINFO")
        elif btype == 127:
            raise ValueError("FLAC: invalid metadata block type 127")
        pos += length
    if si is None:
        raise ValueError("FLAC: no metadata blocks")
    return si, pos


def flac_meta(payload: bytes) -> tuple[int, int, int, int]:
    """(sample_rate, n_channels, bits_per_sample, total_samples) from
    STREAMINFO only — no frame decode."""
    si, _ = _walk_metadata(payload)
    return si.rate, si.channels, si.bits, si.total_samples


# ---------------------------------------------------------------------------
# frame decode
# ---------------------------------------------------------------------------


def _read_utf8_number(r: _Reader, max_bytes: int) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    probe = b0
    while probe & 0x80:
        n += 1
        probe = (probe << 1) & 0xFF
    if n == 1 or n > max_bytes:
        raise ValueError(f"FLAC: invalid UTF-8 coded number lead byte {b0:#x}")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        c = r.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("FLAC: bad UTF-8 coded number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _decode_residual(r: _Reader, block_size: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise ValueError(f"FLAC: reserved residual coding method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    porder = r.read(4)
    if block_size % (1 << porder):
        raise ValueError(
            f"FLAC: partition order {porder} does not divide block size "
            f"{block_size}"
        )
    part = block_size >> porder
    if part <= order and porder > 0:
        raise ValueError("FLAC: partition smaller than predictor order")
    res: list[int] = []
    for p in range(1 << porder):
        n = part - order if p == 0 else part
        if n < 0:
            raise ValueError("FLAC: predictor order exceeds block size")
        k = r.read(plen)
        if k == escape:
            raw = r.read(5)
            if raw:
                for _ in range(n):
                    res.append(r.read_signed(raw))
            else:
                res.extend([0] * n)
        else:
            for _ in range(n):
                q = r.read_unary()
                u = (q << k) | r.read(k)
                res.append((u >> 1) ^ -(u & 1))  # un-zigzag
    return res


def _decode_subframe(r: _Reader, block_size: int, bps: int) -> list[int]:
    if r.read(1):
        raise ValueError("FLAC: subframe padding bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("FLAC: wasted bits exceed sample size")
    if stype == 0:  # CONSTANT
        out = [r.read_signed(eff)] * block_size
    elif stype == 1:  # VERBATIM
        out = [r.read_signed(eff) for _ in range(block_size)]
    elif 8 <= stype <= 12:  # FIXED order 0-4
        order = stype - 8
        if order > block_size:
            raise ValueError("FLAC: fixed order exceeds block size")
        out = [r.read_signed(eff) for _ in range(order)]
        res = _decode_residual(r, block_size, order)
        coef = _FIXED_COEFFS[order]
        for i, e in enumerate(res):
            pred = 0
            for j, c in enumerate(coef):
                pred += c * out[order + i - 1 - j]
            out.append(e + pred)
    elif stype >= 32:  # LPC order 1-32
        order = stype - 31
        if order > block_size:
            raise ValueError("FLAC: LPC order exceeds block size")
        out = [r.read_signed(eff) for _ in range(order)]
        prec = r.read(4)
        if prec == 15:
            raise ValueError("FLAC: invalid LPC coefficient precision 15")
        prec += 1
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC: negative LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _decode_residual(r, block_size, order)
        for e in res:
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * out[-1 - j]
            out.append(e + (pred >> shift))
    else:
        raise ValueError(f"FLAC: reserved subframe type {stype}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def _decode_frame(
    payload: bytes, pos: int, si: _StreamInfo
) -> tuple[list[list[int]], int, int]:
    """Decode one frame at byte offset ``pos``; returns (channels'
    sample lists, new byte offset, sample rate)."""
    start = pos
    r = _Reader(payload, pos * 8)
    sync = r.read(14)
    if sync != 0x3FFE:
        raise ValueError(f"FLAC: bad frame sync {sync:#x} at byte {pos}")
    if r.read(1):
        raise ValueError("FLAC: reserved frame header bit set")
    variable = r.read(1)
    bs_code = r.read(4)
    sr_code = r.read(4)
    ch_code = r.read(4)
    ss_code = r.read(3)
    if r.read(1):
        raise ValueError("FLAC: reserved frame header bit set")
    _read_utf8_number(r, 7 if variable else 6)

    if bs_code == 0:
        raise ValueError("FLAC: reserved block size code 0")
    elif bs_code == 1:
        block_size = 192
    elif bs_code <= 5:
        block_size = 576 << (bs_code - 2)
    elif bs_code == 6:
        block_size = r.read(8) + 1
    elif bs_code == 7:
        block_size = r.read(16) + 1
    else:
        block_size = 256 << (bs_code - 8)

    if sr_code == 0:
        rate = si.rate
    elif sr_code in _SAMPLE_RATE_CODES:
        rate = _SAMPLE_RATE_CODES[sr_code]
    elif sr_code == 12:
        rate = r.read(8) * 1000
    elif sr_code == 13:
        rate = r.read(16)
    elif sr_code == 14:
        rate = r.read(16) * 10
    else:
        raise ValueError("FLAC: invalid sample rate code 15")
    if rate == 0:
        # a zero follow-on field (or zero STREAMINFO rate via code 0)
        # would propagate into duration = n / 0 downstream
        raise ValueError("FLAC: frame sample rate decodes to 0")

    if ss_code == 0:
        bps = si.bits
    elif ss_code in _SAMPLE_SIZE_CODES:
        bps = _SAMPLE_SIZE_CODES[ss_code]
    else:
        raise ValueError(f"FLAC: reserved sample size code {ss_code}")

    if ch_code <= 7:
        n_ch, mode = ch_code + 1, "indep"
    elif ch_code == 8:
        n_ch, mode = 2, "left-side"
    elif ch_code == 9:
        n_ch, mode = 2, "right-side"
    elif ch_code == 10:
        n_ch, mode = 2, "mid-side"
    else:
        raise ValueError(f"FLAC: reserved channel assignment {ch_code}")
    if n_ch != si.channels:
        raise ValueError(
            f"FLAC: frame channel count {n_ch} != STREAMINFO {si.channels}"
        )

    crc8_end = r.byte_pos()
    got = r.read(8)
    want = _crc8(payload[start:crc8_end])
    if got != want:
        raise ValueError(f"FLAC: frame header CRC-8 mismatch ({got} != {want})")

    chans = []
    for ci in range(n_ch):
        side = (
            (mode == "left-side" and ci == 1)
            or (mode == "right-side" and ci == 0)
            or (mode == "mid-side" and ci == 1)
        )
        chans.append(_decode_subframe(r, block_size, bps + (1 if side else 0)))

    if mode == "left-side":
        left, side_c = chans
        chans = [left, [l - s for l, s in zip(left, side_c)]]
    elif mode == "right-side":
        side_c, right = chans
        chans = [[s + rr for s, rr in zip(side_c, right)], right]
    elif mode == "mid-side":
        mid, side_c = chans
        left, right = [], []
        for m, s in zip(mid, side_c):
            m = (m << 1) | (s & 1)
            left.append((m + s) >> 1)
            right.append((m - s) >> 1)
        chans = [left, right]

    r.align()
    crc_pos = r.byte_pos()
    got16 = r.read(16)
    want16 = _crc16(payload[start:crc_pos])
    if got16 != want16:
        raise ValueError(f"FLAC: frame CRC-16 mismatch ({got16} != {want16})")
    return chans, r.byte_pos(), rate


def decode_flac_int(
    payload: bytes, max_samples: int = MAX_SAMPLES, verify_md5: bool = False
) -> tuple[np.ndarray, int, int]:
    """Decode to ((n_frames, n_channels) int32 raw samples, sample
    rate, bits_per_sample) — the lossless form round-trip tests pin.

    STREAMINFO's total-sample count (when nonzero) is enforced
    exactly; a stream whose frames stop short of it is truncated and
    raises. ``verify_md5`` additionally checks the decoded stream
    against the STREAMINFO MD5 (skipped when the writer left it
    zeroed)."""
    si, pos = _walk_metadata(payload)
    if si.total_samples and si.total_samples * si.channels > max_samples:
        raise ValueError(
            f"FLAC bomb guard: {si.total_samples}x{si.channels} samples "
            f"exceed {max_samples}"
        )
    chans: list[list[int]] = [[] for _ in range(si.channels)]
    rate = si.rate
    while pos < len(payload):
        frame, pos, rate = _decode_frame(payload, pos, si)
        for acc, ch in zip(chans, frame):
            acc.extend(ch)
        if len(chans[0]) * si.channels > max_samples:
            raise ValueError(
                f"FLAC bomb guard: decoded samples exceed {max_samples}"
            )
        if si.total_samples and len(chans[0]) >= si.total_samples:
            break
    if si.total_samples:
        if len(chans[0]) < si.total_samples:
            raise ValueError(
                f"FLAC truncated: {len(chans[0])} of {si.total_samples} "
                f"samples decoded"
            )
        chans = [c[: si.total_samples] for c in chans]
    arr = np.array(chans, dtype=np.int64).T if chans[0] else np.zeros(
        (0, si.channels), dtype=np.int64
    )
    lo, hi = -(1 << (si.bits - 1)), (1 << (si.bits - 1)) - 1
    if arr.size and (arr.min() < lo or arr.max() > hi):
        raise ValueError("FLAC: decoded sample exceeds declared bit depth")
    arr = arr.astype(np.int32)
    if verify_md5 and si.md5 != b"\x00" * 16:
        got = hashlib.md5(_pcm_bytes(arr, si.bits)).digest()
        if got != si.md5:
            raise ValueError("FLAC: MD5 mismatch on decoded stream")
    return arr, rate, si.bits


def decode_flac(
    payload: bytes, max_samples: int = MAX_SAMPLES
) -> tuple[np.ndarray, int]:
    """Decode to ((n_frames, n_channels) float64 in [-1, 1], rate) —
    the same normalization convention as :func:`wav.decode_wav`
    (signed ints divide by 2^(bits−1))."""
    arr, rate, bits = decode_flac_int(payload, max_samples)
    return arr.astype(np.float64) / float(1 << (bits - 1)), rate


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


class _Writer:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def write_bitarray(self, bits: np.ndarray) -> None:
        """Append a 0/1 uint8 bit vector in one vectorized pass —
        byte-identical to writing the same bits through :meth:`write`
        one code at a time (differential-pinned)."""
        if self.nbits:
            pre = np.empty(self.nbits, dtype=np.uint8)
            for i in range(self.nbits):
                pre[i] = (self.acc >> (self.nbits - 1 - i)) & 1
            bits = np.concatenate([pre, bits])
            self.acc = 0
            self.nbits = 0
        rem = bits.size & 7
        full = bits.size - rem
        if full:
            self.buf += np.packbits(bits[:full]).tobytes()
        acc = 0
        for b in bits[full:]:
            acc = (acc << 1) | int(b)
        self.acc = acc
        self.nbits = rem

    def bytes(self) -> bytes:
        if self.nbits:
            raise ValueError("unaligned writer")
        return bytes(self.buf)


def _utf8_number(v: int) -> bytes:
    """UTF-8-style coded number (spec form): an (n+1)-byte encoding
    carries 6·n + (6 − n) payload bits."""
    if v < 0x80:
        return bytes([v])
    n = 1
    while v >> (6 * n + (6 - n)):
        n += 1
    lead = (0xFF00 >> (n + 1)) & 0xFF
    out = [lead | (v >> (6 * n))]
    for i in range(n - 1, -1, -1):
        out.append(0x80 | ((v >> (6 * i)) & 0x3F))
    return bytes(out)


def _rice_cost(res: list[int], k: int) -> int:
    return sum((((r << 1) ^ (r >> 63)) >> k) + 1 + k for r in res)


def _best_rice(res: list[int]) -> tuple[int, int]:
    """(k, cost_bits) minimizing the exact Rice cost."""
    best_k, best_c = 0, _rice_cost(res, 0)
    for k in range(1, 31):
        c = _rice_cost(res, k)
        if c < best_c:
            best_k, best_c = k, c
        elif c > best_c * 2:
            break
    return best_k, best_c


def _zigzag_np(res: np.ndarray) -> np.ndarray:
    """Vectorized zigzag, identical to ``((r << 1) ^ (r >> 63))`` on
    Python ints for |r| < 2**62 (int64 arithmetic shift of a negative
    is -1, exactly like Python's)."""
    return (res << np.int64(1)) ^ (res >> np.int64(63))


_RICE_KS = np.arange(31, dtype=np.int64)


def _best_rice_np(u: np.ndarray, n: int) -> tuple[int, int]:
    """Vectorized twin of :func:`_best_rice` over the zigzagged
    residuals ``u`` — all 31 exact costs in one (n × 31) reduction,
    then the same scan order, tie-breaking and early break, so the
    selected (k, cost) is identical bit-for-bit."""
    sums = (u[:, None] >> _RICE_KS[None, :]).sum(axis=0)
    costs = sums + n * (1 + _RICE_KS)
    best_k, best_c = 0, int(costs[0])
    for k in range(1, 31):
        c = int(costs[k])
        if c < best_c:
            best_k, best_c = k, c
        elif c > best_c * 2:
            break
    return best_k, best_c


def _write_residual(w: _Writer, res: np.ndarray, k: int, raw_bits: int) -> None:
    """Residual section via one vectorized bit-pack. ``res`` is the
    int64 residual vector; the emitted bits are identical to the
    per-sample ``write_unary``/``write`` sequence (differential twin:
    :func:`_write_residual_ref`)."""
    method = 0 if k <= 14 and raw_bits <= 14 else 1
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    w.write(method, 2)
    w.write(0, 4)  # partition order 0
    if raw_bits:
        w.write(escape, plen)
        w.write(raw_bits, 5)
        n = res.size
        bits = np.empty((n, raw_bits), dtype=np.uint8)
        for j in range(raw_bits):
            # arithmetic >> keeps two's-complement low bits, exactly
            # like write()'s `v & ((1 << n) - 1)` masking
            bits[:, j] = ((res >> np.int64(raw_bits - 1 - j)) & np.int64(1)).astype(
                np.uint8
            )
        w.write_bitarray(bits.reshape(-1))
    else:
        w.write(k, plen)
        u = _zigzag_np(res)
        q = (u >> np.int64(k)).astype(np.int64)
        lens = q + 1 + k
        starts = np.zeros(res.size, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        bits = np.zeros(int(lens.sum()), dtype=np.uint8)
        bits[starts + q] = 1  # unary terminator after q zeros
        for j in range(k):
            bits[starts + q + 1 + j] = (u >> np.int64(k - 1 - j)) & np.int64(1)
        w.write_bitarray(bits)


def _write_residual_ref(
    w: _Writer, res: list[int], k: int, raw_bits: int
) -> None:
    """Pure-Python reference of :func:`_write_residual` (kept for the
    byte-identity differential test)."""
    method = 0 if k <= 14 and raw_bits <= 14 else 1
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    w.write(method, 2)
    w.write(0, 4)  # partition order 0
    if raw_bits:
        w.write(escape, plen)
        w.write(raw_bits, 5)
        for r in res:
            w.write(r, raw_bits)
    else:
        w.write(k, plen)
        for r in res:
            u = (r << 1) ^ (r >> 63)
            w.write_unary(u >> k)
            if k:
                w.write(u, k)


def _encode_subframe(w: _Writer, s: np.ndarray, bps: int) -> None:
    """Vectorized subframe encoder: residuals are k-th differences
    (``np.diff`` — the fixed predictors ARE the binomial coefficients),
    the Rice cost scan and the bit-pack run over whole arrays. Order/k
    selection and output bits are identical to the pure-Python twin
    :func:`_encode_subframe_ref` (differential-pinned)."""
    arr = np.asarray(s, dtype=np.int64)
    n = int(arr.size)
    if np.all(arr == arr[0]):
        w.write(0, 1)
        w.write(0, 6)  # CONSTANT
        w.write(0, 1)
        w.write(int(arr[0]), bps)
        return
    verbatim_cost = 8 + n * bps  # subframe header + raw samples
    best = None  # (cost, order, res, k, raw_bits)
    for order in range(0, 5):
        if order >= n:
            break
        res = np.diff(arr, n=order) if order else arr
        k, rice_cost = _best_rice_np(_zigzag_np(res), int(res.size))
        # residual-section bits, exactly as _write_residual lays them
        # out: 2 (method) + 4 (partition order) + plen (param/escape),
        # then rice codes — or escape: 5 (raw_bits field) + raw packing;
        # plen mirrors _write_residual's method choice for each variant
        rice_plen = 4 if k <= 14 else 5
        cost, raw_bits = rice_plen + rice_cost, 0
        mx = int(np.abs(res).max()) if res.size else 0
        need = mx.bit_length() + 1 if mx else 0
        if need and need <= 31:
            raw_plen = 4 if k <= 14 and need <= 14 else 5
            raw_cost = raw_plen + 5 + need * int(res.size)
            if raw_cost < cost:
                cost, raw_bits = raw_cost, need
        total = 8 + order * bps + 2 + 4 + cost
        if best is None or total < best[0]:
            best = (total, order, res, k, raw_bits)
    if best is not None and best[0] < verbatim_cost:
        _, order, res, k, raw_bits = best
        w.write(0, 1)
        w.write(8 + order, 6)  # FIXED
        w.write(0, 1)
        for v in arr[:order]:
            w.write(int(v), bps)
        _write_residual(w, res, k, raw_bits)
    else:
        w.write(0, 1)
        w.write(1, 6)  # VERBATIM
        w.write(0, 1)
        bits = np.empty((n, bps), dtype=np.uint8)
        for j in range(bps):
            bits[:, j] = ((arr >> np.int64(bps - 1 - j)) & np.int64(1)).astype(
                np.uint8
            )
        w.write_bitarray(bits.reshape(-1))


def _encode_subframe_ref(w: _Writer, s: list[int], bps: int) -> None:
    """Pure-Python reference of :func:`_encode_subframe` (pre-r17 body,
    kept verbatim for the byte-identity differential test)."""
    n = len(s)
    if all(v == s[0] for v in s):
        w.write(0, 1)
        w.write(0, 6)  # CONSTANT
        w.write(0, 1)
        w.write(s[0], bps)
        return
    verbatim_cost = 8 + n * bps  # subframe header + raw samples
    best = None  # (cost, order, res, k, raw_bits)
    for order in range(0, 5):
        if order >= n:
            break
        coef = _FIXED_COEFFS[order]
        res = [
            s[i] - sum(c * s[i - 1 - j] for j, c in enumerate(coef))
            for i in range(order, n)
        ]
        k, rice_cost = _best_rice(res)
        rice_plen = 4 if k <= 14 else 5
        cost, raw_bits = rice_plen + rice_cost, 0
        mx = max((abs(r) for r in res), default=0)
        need = mx.bit_length() + 1 if mx else 0
        if need and need <= 31:
            raw_plen = 4 if k <= 14 and need <= 14 else 5
            raw_cost = raw_plen + 5 + need * len(res)
            if raw_cost < cost:
                cost, raw_bits = raw_cost, need
        total = 8 + order * bps + 2 + 4 + cost
        if best is None or total < best[0]:
            best = (total, order, res, k, raw_bits)
    if best is not None and best[0] < verbatim_cost:
        _, order, res, k, raw_bits = best
        w.write(0, 1)
        w.write(8 + order, 6)  # FIXED
        w.write(0, 1)
        for v in s[:order]:
            w.write(v, bps)
        _write_residual_ref(w, res, k, raw_bits)
    else:
        w.write(0, 1)
        w.write(1, 6)  # VERBATIM
        w.write(0, 1)
        for v in s:
            w.write(v, bps)


def _pcm_bytes(arr: np.ndarray, bits: int) -> bytes:
    """Interleaved little-endian PCM bytes (ceil(bits/8) bytes per
    sample) — the stream MD5 is computed over exactly this form."""
    nbytes = (bits + 7) // 8
    flat = arr.reshape(-1).astype(np.int64)
    u = np.where(flat < 0, flat + (1 << (8 * nbytes)), flat).astype(np.uint64)
    out = np.empty((flat.size, nbytes), dtype=np.uint8)
    for b in range(nbytes):
        out[:, b] = (u >> (8 * b)) & 0xFF
    return out.tobytes()


def encode_flac(
    arr: np.ndarray,
    sample_rate: int,
    bits: int = 16,
    block_size: int = 4096,
    stereo_mode: str = "indep",
) -> bytes:
    """Fixture/round-trip writer. ``arr`` is (n_frames, n_channels):
    float in [-1, 1] (quantized like :func:`wav.encode_wav`) or
    already-integer raw samples within the ``bits`` range.
    ``stereo_mode`` ∈ {indep, left-side, right-side, mid-side}
    (decorrelation modes need exactly 2 channels)."""
    arr = np.asarray(arr)
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2:
        raise ValueError("arr must be (n_frames, n_channels)")
    if not 4 <= bits <= 32:
        raise ValueError(f"unsupported bit depth {bits}")
    if not 16 <= block_size <= 65535:
        raise ValueError("block_size must be in [16, 65535]")
    if not 1 <= sample_rate <= 655350:
        # STREAMINFO carries a 20-bit rate field (RFC 9639 §8.2 caps it
        # at 655350 Hz); anything larger would silently corrupt the
        # adjacent packed channel/bit-depth bits
        raise ValueError(f"sample_rate must be in [1, 655350], got {sample_rate}")
    n_frames, channels = arr.shape
    if channels < 1 or channels > 8:
        raise ValueError(f"FLAC supports 1-8 channels, got {channels}")
    if stereo_mode != "indep" and channels != 2:
        raise ValueError("stereo decorrelation needs exactly 2 channels")
    if np.issubdtype(arr.dtype, np.floating):
        scale = float(1 << (bits - 1))
        ints = np.clip(np.round(arr * scale), -scale, scale - 1).astype(np.int64)
    else:
        ints = arr.astype(np.int64)
        lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
        if ints.size and (ints.min() < lo or ints.max() > hi):
            raise ValueError(f"integer samples exceed {bits}-bit range")

    frames = bytearray()
    ch_code = {
        "indep": channels - 1, "left-side": 8, "right-side": 9, "mid-side": 10,
    }.get(stereo_mode)
    if ch_code is None:
        raise ValueError(f"unknown stereo_mode {stereo_mode!r}")
    ss_code = _SAMPLE_SIZE_BITS.get(bits, 0)

    for fi, off in enumerate(range(0, max(n_frames, 1), block_size)):
        blk = ints[off : off + block_size]
        bs = blk.shape[0]
        if bs == 0:
            break
        w = _Writer()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed blocking strategy
        w.write(7, 4)  # block size: 16-bit follow-on (always exact)
        w.write(0, 4)  # sample rate: from STREAMINFO
        w.write(ch_code, 4)
        w.write(ss_code, 3)
        w.write(0, 1)
        for b in _utf8_number(fi):
            w.write(b, 8)
        w.write(bs - 1, 16)
        hdr = bytes(w.buf)
        w.write(_crc8(hdr), 8)

        if stereo_mode == "indep":
            subs = [(blk[:, c], bits) for c in range(channels)]
        else:
            left = blk[:, 0]
            right = blk[:, 1]
            side = left - right
            if stereo_mode == "left-side":
                subs = [(left, bits), (side, bits + 1)]
            elif stereo_mode == "right-side":
                subs = [(side, bits + 1), (right, bits)]
            else:
                mid = (blk[:, 0] + blk[:, 1]) >> 1
                subs = [(mid, bits), (side, bits + 1)]
        for samples, sub_bps in subs:
            _encode_subframe(w, samples, sub_bps)
        w.align()
        body = bytes(w.buf)
        frames += body + struct.pack(">H", _crc16(body))

    md5 = hashlib.md5(_pcm_bytes(ints, bits)).digest()
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits - 1) << 36)
        | (n_frames & ((1 << 36) - 1))
    )
    # min/max block size: fixed-blocksize stream => both = block_size
    # (a shorter LAST block is permitted and does not affect them)
    streaminfo = (
        struct.pack(">HH", block_size, block_size)
        + b"\x00\x00\x00" * 2  # min/max frame size unknown
        + packed.to_bytes(8, "big")
        + md5
    )
    return (
        b"fLaC"
        + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
        + frames
    )
