"""Pure-Python baseline JPEG codec (stdlib + numpy) — the JFIF twin of
``functions/png.py``.

Baseline (sequential DCT, 8-bit, Huffman) JPEG needs only bit
twiddling + an 8x8 IDCT, both expressible with numpy: payload bytes
in, typed metadata / pixels out.

Supported: baseline DCT (SOF0) and progressive (SOF2, both spectral
selection with EOB-run coding AND successive approximation — DC/AC
first scans at Al>0, raw-bit DC refinements, G.1.2.3 AC refinement
with buffered correction bits), 8-bit, grayscale (1 component) and
YCbCr with sampling factors 1-2 per axis (4:4:4, 4:2:0, 4:2:2 —
chroma upsampled by T.81-legal sample replication), restart markers,
standard Huffman/quantization table syntax, per-scan table
redefinition. Successive approximation is validated the same way
spectral selection was: an in-repo SA encoder
(``encode_jpeg_progressive_sa``) writes full-depth refinement scripts
whose decode is pinned pixel-identical to the BASELINE decode of the
same image — three independently-written paths must agree.
Arithmetic coding, 12-bit, and sampling factors >2 raise
``NotImplementedError`` — the honest boundary of a dependency-free
decoder (production would use PIL/turbojpeg).

Determinism contract (what makes decoded stats SQL-oracle-checkable):
quantization uses ``floor(x/q + 0.5)`` and pixel reconstruction uses
``floor(x + 0.5)`` — explicit round-half-up, never banker's rounding —
and the IDCT is the exact orthonormal float64 matrix transform. For a
FLAT 8x8 block of source value v the full encode→decode round trip
therefore collapses to closed-form integer arithmetic

    decoded(v) = clip(floor(floor(8*(v-128)/q0 + 0.5) * q0 / 8 + 0.5) + 128)

(F00 of a flat shifted block is exactly 8*(v-128); every AC
coefficient is exactly 0), which a DuckDB oracle replays bit-for-bit.
General non-flat blocks decode correctly too (round-trip
property-tested within quantization error).

Hostile-input hardening mirrors png.py: SOF dimensions are bounded by
``MAX_PIXELS`` before any allocation and the scan walker validates
segment lengths, so truncated/hostile payloads fail fast with
``ValueError``.
"""

from __future__ import annotations

import struct

import numpy as np

JPEG_MAGIC = b"\xff\xd8"

#: w*h bomb guard (same default as png.py / PIL)
MAX_PIXELS = 89_478_485

#: per-payload allocation budget (bytes) behind the pixel guard. The
#: flat PIL-style cap above is calibrated for uint8 pixel buffers, but
#: this decoder allocates up to 16 B/pixel/component (progressive:
#: int64 coefficient grid + float64 plane; baseline: float64 planes +
#: RGB staging) — ~24x the bytes/pixel the PNG guard assumes — so a
#: within-cap hostile SOF could still demand multi-GB buffers. The
#: effective cap is therefore min(max_pixels, budget / buffer-width),
#: scaled by component count and decode mode.
_ALLOC_BUDGET = 1 << 30


def _effective_max_pixels(max_pixels: int, nc: int, progressive: bool) -> int:
    """Scale the pixel cap by the decode path's real bytes/pixel so
    worst-case within-guard memory matches the PNG path's calibration
    (grayscale baseline keeps the full cap; 3-component progressive,
    the widest buffers at 48 B/pixel, caps near 22M pixels)."""
    if nc < 1:
        # hostile SOF with zero components: contracted ValueError, not
        # a ZeroDivisionError out of the guard itself
        raise ValueError("JPEG: SOF declares no components")
    bytes_per_pixel = (16 if progressive else 8) * nc
    return min(max_pixels, _ALLOC_BUDGET // bytes_per_pixel)

#: zigzag order: zz index -> (row, col) flattened index
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

#: ITU-T T.81 Annex K.1 luminance quantization table (quality 50), in
#: NATURAL (row-major) order
_QTABLE_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

# Annex K.3 typical Huffman tables: (bits[1..16] counts, values)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix C: forward F = C A C^T, inverse
    A = C^T F C (float64 — the exact transform both codec halves use)."""
    x = np.arange(8, dtype=np.float64)
    u = x[:, None]
    c = np.cos((2 * x[None, :] + 1) * u * np.pi / 16) / 2.0
    c[0, :] *= 1.0 / np.sqrt(2.0)
    return c


_C = _dct_matrix()


def _half_up(x: np.ndarray) -> np.ndarray:
    """floor(x + 0.5): explicit round-half-up (NOT numpy banker's) —
    the determinism contract the SQL oracles replay."""
    return np.floor(x + 0.5)


def is_jpeg(payload: bytes) -> bool:
    return payload is not None and payload[:2] == JPEG_MAGIC


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------


def _build_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, canonical JPEG code assignment."""
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


def _build_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length)."""
    return {
        sym: (code, length)
        for (length, code), sym in _build_decode_table(bits, vals).items()
    }


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 destuffing.

    Any real marker (RSTn, EOI, next segment) is NEVER consumed by the
    prefetch: ``_fill`` pads with 1-bits without advancing ``pos``
    (T.81 F.2.2.5 behavior at segment end), so the marker is still at
    ``pos`` when ``sync_restart`` explicitly consumes it — prefetch
    and restart handling cannot race."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                raise ValueError("JPEG truncated inside entropy data")
            b = self.data[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(self.data):
                    raise ValueError("JPEG truncated at marker")
                if self.data[self.pos + 1] == 0x00:  # stuffed FF
                    self.pos += 2
                else:  # marker: pad with 1s, do NOT advance
                    self.buf = (self.buf << 8) | 0xFF
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.buf = (self.buf << 8) | b
            self.nbits += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        self.nbits -= n
        out = (self.buf >> self.nbits) & ((1 << n) - 1)
        self.buf &= (1 << self.nbits) - 1
        return out

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("JPEG: invalid Huffman code")

    def sync_restart(self) -> None:
        """Drop pad bits and consume the expected RSTn marker."""
        self.buf = 0
        self.nbits = 0
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
            return
        raise ValueError("JPEG: expected restart marker (DRI interval)")


def _unpack(fmt: str, buf: bytes, offset: int, what: str) -> tuple:
    """``struct.unpack_from`` under the hostile-input contract: a short
    buffer raises ``ValueError`` (module promise), never a raw
    ``struct.error``. Every segment-body unpack in the header walker
    and the progressive inter-scan walker goes through here."""
    if offset + struct.calcsize(fmt) > len(buf):
        raise ValueError(f"JPEG truncated {what}")
    return struct.unpack_from(fmt, buf, offset)


def _extend(v: int, size: int) -> int:
    """JPEG EXTEND: map a ``size``-bit magnitude to its signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def jpeg_meta(payload: bytes, max_pixels: int = MAX_PIXELS) -> tuple[int, int, int, int]:
    """(width, height, channels, bit_depth) from the frame header only
    (SOF0 baseline or SOF2 progressive; the parse stops at SOF)."""
    hdr = _parse_headers(payload, max_pixels, need_tables=False)
    return hdr["w"], hdr["h"], len(hdr["comps"]), hdr["precision"]


def _parse_dqt(body: bytes, qtables: dict) -> None:
    """DQT segment body -> natural-order tables (shared by the header
    walker and the progressive inter-scan walker, so guards cannot
    diverge)."""
    p = 0
    while p < len(body):
        pq_tq = body[p]
        pq = pq_tq >> 4
        if pq > 1:
            raise ValueError(f"JPEG: invalid DQT precision {pq}")
        width = 2 if pq else 1
        if p + 1 + 64 * width > len(body):
            raise ValueError("JPEG: truncated DQT segment")
        if pq:  # 16-bit entries, big-endian (12-bit streams need them)
            q = np.frombuffer(body, dtype=">u2", count=64, offset=p + 1)
        else:
            q = np.frombuffer(body, dtype=np.uint8, count=64, offset=p + 1)
        tbl = np.zeros(64, dtype=np.int64)
        tbl[_ZIGZAG] = q  # stored zigzag -> natural order
        if int(tbl.min()) == 0:
            raise ValueError("JPEG: zero quantizer value")
        qtables[pq_tq & 0xF] = tbl
        p += 1 + 64 * width


def _parse_dht(body: bytes, htables: dict) -> None:
    p = 0
    while p < len(body):
        if p + 17 > len(body):
            raise ValueError("JPEG: truncated DHT segment")
        tc_th = body[p]
        bits = list(body[p + 1 : p + 17])
        nv = sum(bits)
        if p + 17 + nv > len(body):
            raise ValueError("JPEG: truncated DHT segment")
        vals = list(body[p + 17 : p + 17 + nv])
        htables[(tc_th >> 4, tc_th & 0xF)] = _build_decode_table(bits, vals)
        p += 17 + nv


def _parse_sos(body: bytes) -> tuple[list[dict], int, int, int, int]:
    """SOS body -> (scan components, Ss, Se, Ah, Al) with length
    validation (a hostile short SOS must be ValueError, never a raw
    struct.error)."""
    if len(body) < 1:
        raise ValueError("JPEG: truncated SOS segment")
    ns = body[0]
    if len(body) < 1 + 2 * ns + 3:
        raise ValueError("JPEG: truncated SOS segment")
    scomps = []
    for i in range(ns):
        cs, tdta = struct.unpack_from(">BB", body, 1 + 2 * i)
        scomps.append({"id": cs, "td": tdta >> 4, "ta": tdta & 0xF})
    ss, se, ahal = struct.unpack_from(">BBB", body, 1 + 2 * ns)
    if not 0 <= ss <= se <= 63:
        # T.81 B.2.3: spectral selection must sit inside the 64-entry
        # zigzag; a hostile Se>63 would otherwise index past the
        # coefficient array (IndexError, breaking the ValueError
        # contract)
        raise ValueError(f"JPEG: invalid spectral selection Ss={ss} Se={se}")
    return scomps, ss, se, ahal >> 4, ahal & 0xF


def _parse_headers(payload: bytes, max_pixels: int, need_tables: bool = True) -> dict:
    if not is_jpeg(payload):
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id)
    out: dict = {"dri": 0}
    n = len(payload)
    while True:
        if pos + 4 > n:
            raise ValueError("JPEG truncated before SOS")
        if payload[pos] != 0xFF:
            raise ValueError("JPEG: expected marker")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad a marker
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("JPEG: no scan data")
        (seglen,) = _unpack(">H", payload, pos, "at segment length")
        if seglen < 2 or pos + seglen > n:
            raise ValueError("JPEG truncated mid-segment")
        body = payload[pos + 2 : pos + seglen]
        if marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2 progressive
            out["progressive"] = marker == 0xC2
            prec, h, w, nc = _unpack(">BHHB", body, 0, "SOF segment")
            allowed = (8,) if marker == 0xC0 else (8, 12)
            if prec not in allowed:
                raise NotImplementedError(
                    f"JPEG precision {prec} unsupported for SOF{marker - 0xC0}"
                )
            if w == 0 or h == 0:
                raise ValueError("JPEG: zero-dimension image")
            eff_max = _effective_max_pixels(max_pixels, nc, out["progressive"])
            if w * h > eff_max:
                raise ValueError(
                    f"JPEG: {w}x{h} exceeds max_pixels={eff_max} (bomb guard)"
                )
            comps = []
            for i in range(nc):
                cid, samp, tq = _unpack(">BBB", body, 6 + 3 * i, "SOF segment")
                hs, vs = samp >> 4, samp & 0xF
                if hs not in (1, 2) or vs not in (1, 2):
                    raise NotImplementedError(
                        f"JPEG sampling factor {hs}x{vs} unsupported"
                    )
                comps.append({"id": cid, "tq": tq, "hs": hs, "vs": vs})
            if nc == 1 and (comps[0]["hs"], comps[0]["vs"]) != (1, 1):
                # single-component scans ignore sampling factors (T.81
                # A.2.2) — normalize so the MCU walk is 1 block
                comps[0]["hs"] = comps[0]["vs"] = 1
            out.update(w=w, h=h, precision=prec, comps=comps)
            if not need_tables:
                # header-only parse (jpeg_meta): stop at SOF
                out.update(scan=[], qtables={}, htables={}, data_pos=-1)
                return out
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} (non-baseline) unsupported"
            )
        elif marker == 0xDB:  # DQT
            _parse_dqt(body, qtables)
        elif marker == 0xC4:  # DHT
            _parse_dht(body, htables)
        elif marker == 0xDD:  # DRI
            (out["dri"],) = _unpack(">H", body, 0, "DRI segment")
        elif marker == 0xDA:  # SOS
            scomps, ss, se, ah, al = _parse_sos(body)
            out.update(
                scan=scomps, qtables=qtables, htables=htables,
                data_pos=pos + seglen, ss=ss, se=se, ah=ah, al=al,
            )
            if "w" not in out:
                raise ValueError("JPEG: SOS before SOF")
            return out
        # APPn / COM / others: skip
        pos += seglen
    raise ValueError("JPEG: no SOS segment")  # pragma: no cover


def _zz_to_block(zz: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Dequantize zigzag-order levels + IDCT with the DC term added as
    an exact constant (F00/8; the matrix product would carry ~1e-13
    error, enough to flip the half-up rounding the SQL oracle replays
    for DC-only blocks)."""
    coef = np.zeros(64, dtype=np.float64)
    coef[_ZIGZAG] = zz * qt[_ZIGZAG]  # dequant in natural order
    coef = coef.reshape(8, 8)
    dc = coef[0, 0] / 8.0
    coef[0, 0] = 0.0
    return _C.T @ coef @ _C + dc


def _decode_block(reader: _BitReader, dc_tab, ac_tab, qt, pred: int):
    """One entropy-coded 8x8 block -> (reconstructed block, new pred)."""
    zz = np.zeros(64, dtype=np.int64)
    size = reader.huff(dc_tab)
    diff = _extend(reader.bits(size), size)
    pred += diff
    zz[0] = pred
    k = 1
    while k < 64:
        rs = reader.huff(ac_tab)
        r, sz = rs >> 4, rs & 0xF
        if sz == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG: AC index overrun")
        zz[k] = _extend(reader.bits(sz), sz)
        k += 1
    return _zz_to_block(zz, qt), pred


def _planes_to_image(
    planes: list[np.ndarray], comps: list[dict], w: int, h: int, prec: int = 8
) -> np.ndarray:
    """Shared decode tail: replication-upsample subsampled planes,
    level shift with deterministic rounding, crop padding, color
    convert (1 comp -> gray, 3 -> YCbCr->RGB). 12-bit streams level
    shift by 2048, clamp to [0, 4095] and come back as uint16."""
    nc = len(comps)
    mid = float(1 << (prec - 1))
    maxv = (1 << prec) - 1
    dtype = np.uint8 if prec == 8 else np.uint16
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    out = []
    for ci, comp in enumerate(comps):
        p = planes[ci]
        if comp["hs"] < hmax:
            p = np.repeat(p, hmax // comp["hs"], axis=1)
        if comp["vs"] < vmax:
            p = np.repeat(p, vmax // comp["vs"], axis=0)
        out.append(
            np.clip(_half_up(p[:h, :w] + mid), 0, maxv).astype(dtype)
        )
    if nc == 1:
        return out[0][:, :, None]
    if nc == 3:
        y = out[0].astype(np.float64)
        cb = out[1].astype(np.float64) - mid
        cr = out[2].astype(np.float64) - mid
        r = _half_up(y + 1.402 * cr)
        g = _half_up(y - 0.344136 * cb - 0.714136 * cr)
        b = _half_up(y + 1.772 * cb)
        return np.clip(np.stack([r, g, b], axis=2), 0, maxv).astype(dtype)
    raise NotImplementedError(f"JPEG with {nc} components unsupported")


def decode_jpeg(payload: bytes, max_pixels: int = MAX_PIXELS) -> np.ndarray:
    """Decode JPEG to an (h, w, channels) uint8 array (grayscale -> 1
    channel, YCbCr -> 3 RGB channels). Baseline (SOF0) and progressive
    (SOF2, spectral selection) supported; sampling factors 1-2 per axis
    (4:4:4, 4:2:0, 4:2:2); chroma upsampling is sample replication
    (T.81-legal nearest)."""
    hdr = _parse_headers(payload, max_pixels)
    if hdr.get("progressive"):
        return _decode_progressive(payload, hdr)
    w, h, comps = hdr["w"], hdr["h"], hdr["comps"]
    nc = len(comps)
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    reader = _BitReader(payload, hdr["data_pos"])
    planes = [
        np.zeros((mcuy * c["vs"] * 8, mcux * c["hs"] * 8), dtype=np.float64)
        for c in comps
    ]
    pred = [0] * nc
    scan_by_id = {s["id"]: s for s in hdr["scan"]}
    dri = hdr["dri"]
    mcu = 0
    for by in range(mcuy):
        for bx in range(mcux):
            if dri and mcu and mcu % dri == 0:
                reader.sync_restart()
                pred = [0] * nc
            for ci, comp in enumerate(comps):
                s = scan_by_id.get(comp["id"])
                if s is None:
                    if len(hdr["scan"]) < len(comps):
                        raise NotImplementedError(
                            "JPEG multi-scan (non-interleaved) unsupported"
                        )
                    raise ValueError(
                        f"JPEG: SOS names no entry for SOF component "
                        f"{comp['id']}"
                    )
                dc_tab = hdr["htables"].get((0, s["td"]))
                ac_tab = hdr["htables"].get((1, s["ta"]))
                qt = hdr["qtables"].get(comp["tq"])
                if dc_tab is None or ac_tab is None or qt is None:
                    raise ValueError("JPEG: missing Huffman/quant table")
                for v in range(comp["vs"]):
                    for u in range(comp["hs"]):
                        block, pred[ci] = _decode_block(
                            reader, dc_tab, ac_tab, qt, pred[ci]
                        )
                        y0 = (by * comp["vs"] + v) * 8
                        x0 = (bx * comp["hs"] + u) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu += 1
    return _planes_to_image(planes, comps, w, h, hdr["precision"])


def _skip_to_marker(payload: bytes, pos: int) -> int:
    """Advance past entropy tail/pad/RSTn bytes to the next real marker."""
    n = len(payload)
    while pos + 1 < n:
        if payload[pos] == 0xFF and payload[pos + 1] != 0x00:
            if 0xD0 <= payload[pos + 1] <= 0xD7 or payload[pos + 1] == 0xFF:
                pos += 1 if payload[pos + 1] == 0xFF else 2
                continue
            return pos
        pos += 1
    raise ValueError("JPEG truncated: missing trailing marker")


def _decode_progressive(payload: bytes, hdr: dict) -> np.ndarray:
    """Progressive (SOF2) decode — spectral selection AND successive
    approximation: every scan accumulates (approximations of)
    coefficient levels into per-component buffers; the single
    dequantize+IDCT pass runs after EOI. A complete SA script (refined
    to Al=0) reconstructs the exact levels, so its decode equals the
    baseline decode bit-for-bit (the test pin)."""
    w, h, comps = hdr["w"], hdr["h"], hdr["comps"]
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    coefs = [
        np.zeros((mcuy * c["vs"], mcux * c["hs"], 64), dtype=np.int64)
        for c in comps
    ]
    # unpadded per-component block grids (T.81 A.2.2: non-interleaved
    # scans raster ceil(comp-size/8) blocks, NOT the MCU-padded grid)
    eff = []
    for c in comps:
        cw = (w * c["hs"] + hmax - 1) // hmax
        ch = (h * c["vs"] + vmax - 1) // vmax
        eff.append(((cw + 7) // 8, (ch + 7) // 8))
    comp_by_id = {c["id"]: (ci, c) for ci, c in enumerate(comps)}
    htables = dict(hdr["htables"])
    qtables = dict(hdr["qtables"])
    dri = hdr["dri"]

    scan = dict(
        scomps=hdr["scan"], ss=hdr["ss"], se=hdr["se"],
        ah=hdr["ah"], al=hdr["al"],
    )
    pos = hdr["data_pos"]
    n = len(payload)
    n_scans = 0
    while True:
        n_scans += 1
        if n_scans > 1024:
            # scan-count bomb guard: each scan walks every block, so a
            # hostile file with thousands of near-empty scans is a CPU
            # DoS; legal scripts are far below this (≤ comps × bands ×
            # approximation passes)
            raise ValueError("JPEG: too many progressive scans (bomb?)")
        pos = _decode_progressive_scan(
            payload, pos, scan, comp_by_id, coefs, eff,
            htables, dri, mcux, mcuy,
        )
        # walk segments to the next SOS (tables may be redefined) / EOI
        scan = None
        while True:
            pos = _skip_to_marker(payload, pos)
            marker = payload[pos + 1]
            pos += 2
            if marker == 0xD9:  # EOI
                break
            (seglen,) = _unpack(">H", payload, pos, "at segment length")
            if seglen < 2 or pos + seglen > n:
                raise ValueError("JPEG truncated mid-segment")
            body = payload[pos + 2 : pos + seglen]
            if marker == 0xC4:  # DHT (shared parser — guards identical)
                _parse_dht(body, htables)
            elif marker == 0xDB:  # DQT
                _parse_dqt(body, qtables)
            elif marker == 0xDD:  # DRI
                (dri,) = _unpack(">H", body, 0, "DRI segment")
            elif marker == 0xDA:  # next scan
                scomps, ss, se, ah, al = _parse_sos(body)
                scan = dict(scomps=scomps, ss=ss, se=se, ah=ah, al=al)
                pos += seglen
                break
            pos += seglen
        if scan is None:
            break

    # single reconstruction pass
    planes = [
        np.zeros((mcuy * c["vs"] * 8, mcux * c["hs"] * 8), dtype=np.float64)
        for c in comps
    ]
    for ci, c in enumerate(comps):
        qt = qtables.get(c["tq"])
        if qt is None:
            raise ValueError("JPEG: missing quant table")
        nby, nbx = coefs[ci].shape[:2]
        for by in range(nby):
            for bx in range(nbx):
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _zz_to_block(coefs[ci][by, bx], qt)
                )
    return _planes_to_image(planes, comps, w, h, hdr["precision"])


def _decode_progressive_scan(
    payload: bytes,
    pos: int,
    scan: dict,
    comp_by_id: dict,
    coefs: list,
    eff: list,
    htables: dict,
    dri: int,
    mcux: int,
    mcuy: int,
) -> int:
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    scomps = scan["scomps"]
    reader = _BitReader(payload, pos)
    if len(scomps) > 1:
        # interleaved scan: progressive allows DC only (T.81 G.1)
        if ss != 0 or se != 0:
            raise ValueError("JPEG: interleaved progressive AC scan illegal")
        # resolve (ci, comp, dc table) ONCE per scan, not per MCU; a
        # refinement scan (Ah != 0) reads raw bits, no table needed
        resolved = []
        for s in scomps:
            if s["id"] not in comp_by_id:
                raise ValueError("JPEG: scan names unknown component")
            ci, comp = comp_by_id[s["id"]]
            dc_tab = None
            if ah == 0:
                dc_tab = htables.get((0, s["td"]))
                if dc_tab is None:
                    raise ValueError("JPEG: missing DC Huffman table")
            resolved.append((ci, comp, dc_tab))
        pred = [0] * len(resolved)
        unit = 0
        for by in range(mcuy):
            for bx in range(mcux):
                if dri and unit and unit % dri == 0:
                    reader.sync_restart()
                    pred = [0] * len(resolved)
                for si, (ci, comp, dc_tab) in enumerate(resolved):
                    for v in range(comp["vs"]):
                        for u in range(comp["hs"]):
                            cell = coefs[ci][by * comp["vs"] + v,
                                             bx * comp["hs"] + u]
                            if ah == 0:
                                size = reader.huff(dc_tab)
                                pred[si] += _extend(reader.bits(size), size)
                                cell[0] = pred[si] << al
                            else:
                                # DC refinement: one raw bit per block;
                                # += works for negatives too (the point
                                # transform is an arithmetic shift, so
                                # the stored value is (v >> ah) << ah
                                # and the next bit is two's-complement
                                # additive)
                                cell[0] += reader.bits(1) << al
                unit += 1
        return reader.pos

    s = scomps[0]
    if s["id"] not in comp_by_id:
        raise ValueError("JPEG: scan names unknown component")
    ci, comp = comp_by_id[s["id"]]
    bw_e, bh_e = eff[ci]
    if ss == 0:
        if se != 0:
            raise ValueError("JPEG: progressive DC scan must have Se=0")
        dc_tab = None
        if ah == 0:
            dc_tab = htables.get((0, s["td"]))
            if dc_tab is None:
                raise ValueError("JPEG: missing DC Huffman table")
        pred0 = 0
        unit = 0
        for by in range(bh_e):
            for bx in range(bw_e):
                if dri and unit and unit % dri == 0:
                    reader.sync_restart()
                    pred0 = 0
                if ah == 0:
                    size = reader.huff(dc_tab)
                    pred0 += _extend(reader.bits(size), size)
                    coefs[ci][by, bx, 0] = pred0 << al
                else:
                    coefs[ci][by, bx, 0] += reader.bits(1) << al
                unit += 1
        return reader.pos

    ac_tab = htables.get((1, s["ta"]))
    if ac_tab is None:
        raise ValueError("JPEG: missing AC Huffman table")
    if ah != 0:
        return _decode_ac_refine(
            reader, ac_tab, coefs[ci], bw_e, bh_e, ss, se, al, dri
        )
    eobrun = 0
    unit = 0
    for by in range(bh_e):
        for bx in range(bw_e):
            if dri and unit and unit % dri == 0:
                reader.sync_restart()
                eobrun = 0
            unit += 1
            if eobrun > 0:
                eobrun -= 1
                continue
            zz = coefs[ci][by, bx]
            k = ss
            while k <= se:
                rs = reader.huff(ac_tab)
                r, sz = rs >> 4, rs & 0xF
                if sz == 0:
                    if r == 15:  # ZRL: 16 zeros within the band
                        k += 16
                        continue
                    # EOBn: this block's band tail + (run-1) blocks zero
                    eobrun = (1 << r) - 1 + (reader.bits(r) if r else 0)
                    break
                k += r
                if k > se:
                    raise ValueError("JPEG: progressive AC band overrun")
                zz[k] = _extend(reader.bits(sz), sz) << al
                k += 1
    return reader.pos


def _refine_nonzero(reader: _BitReader, zz: np.ndarray, k: int, al: int) -> None:
    """AC refinement correction bit for an already-nonzero coefficient
    (T.81 G.1.2.3): a 1-bit moves the magnitude outward by 1<<al if
    that bit of the approximation is still 0."""
    if reader.bits(1):
        bit = 1 << al
        v = int(zz[k])
        if abs(v) & bit == 0:
            zz[k] = v + bit if v > 0 else v - bit


def _decode_ac_refine(
    reader: _BitReader,
    ac_tab: dict,
    comp_coefs: np.ndarray,
    bw_e: int,
    bh_e: int,
    ss: int,
    se: int,
    al: int,
    dri: int,
) -> int:
    """Successive-approximation AC refinement scan (T.81 G.1.2.3):
    each Huffman symbol either introduces a newly significant ±1<<al
    coefficient after a run of zero-HISTORY positions, or starts an
    EOB run; every already-nonzero coefficient passed on the way (and
    every one covered by an EOB run) consumes one correction bit."""
    eobrun = 0
    unit = 0
    for by in range(bh_e):
        for bx in range(bw_e):
            if dri and unit and unit % dri == 0:
                reader.sync_restart()
                eobrun = 0
            unit += 1
            zz = comp_coefs[by, bx]
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = reader.huff(ac_tab)
                    r, sz = rs >> 4, rs & 0xF
                    newval = 0
                    if sz == 0:
                        if r != 15:
                            # EOBn: covers the rest of this block (via
                            # the refinement sweep below) + (run-1)
                            # further whole blocks
                            eobrun = (1 << r) + (reader.bits(r) if r else 0)
                            break
                        # ZRL: pass 16 zero-history positions
                    else:
                        if sz != 1:
                            raise ValueError(
                                "JPEG: AC refinement magnitude must be 1"
                            )
                        newval = (1 << al) if reader.bits(1) else -(1 << al)
                    # advance over r zero-history positions, refining
                    # every already-nonzero coefficient on the way
                    while k <= se:
                        if zz[k] != 0:
                            _refine_nonzero(reader, zz, k, al)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval:
                        if k > se:
                            raise ValueError(
                                "JPEG: progressive AC band overrun"
                            )
                        zz[k] = newval
                    k += 1
            if eobrun > 0:
                # EOB-covered block: only correction bits for its
                # nonzero band coefficients
                while k <= se:
                    if zz[k] != 0:
                        _refine_nonzero(reader, zz, k, al)
                    k += 1
                eobrun -= 1
    return reader.pos


# ---------------------------------------------------------------------------
# encode (grayscale baseline — the fixture generator)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s
        return bytes(self.out)


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _pad_plane(plane: np.ndarray, bw: int, bh: int, mid: float = 128.0) -> np.ndarray:
    h, w = plane.shape
    padded = np.empty((bh * 8, bw * 8), dtype=np.float64)
    padded[:h, :w] = plane
    padded[h:, :w] = plane[-1:, :]  # edge-replicate padding
    padded[:, w:] = padded[:, w - 1 : w]
    return padded - mid


def _quantize_block(blk: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Forward DCT + half-up quantization -> zigzag-order levels.
    The DC coefficient is computed exactly (Σ/8 of integral samples —
    no float drift at the quantizer's half boundary; twin of the
    decoder's exact DC). natural -> zigzag is zz[i] =
    natural[_ZIGZAG[i]] (the DECODER does natural[_ZIGZAG] = zz, so
    indexing BY _ZIGZAG is the inverse; argsort here was a real bug —
    zigzag is not an involution, and flat DC-only fixtures masked it
    because index 0 is a fixed point)."""
    coef = _C @ blk @ _C.T  # forward orthonormal DCT
    coef[0, 0] = blk.sum() / 8.0
    lvl = np.floor(coef / qt.reshape(8, 8) + 0.5).astype(np.int64)
    return lvl.reshape(64)[_ZIGZAG]


def _encode_block(
    writer: _BitWriter,
    blk: np.ndarray,
    qt: np.ndarray,
    dc_enc: dict,
    ac_enc: dict,
    pred: int,
) -> int:
    zz = _quantize_block(blk, qt)
    diff = int(zz[0]) - pred
    sz = _category(diff)
    code, length = dc_enc[sz]
    writer.write(code, length)
    if sz:
        writer.write(diff if diff >= 0 else diff + (1 << sz) - 1, sz)
    run = 0
    last_nz = max([k for k in range(1, 64) if zz[k]], default=0)
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_enc[(run << 4) | s]
        writer.write(code, length)
        writer.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, length = ac_enc[0x00]  # EOB
        writer.write(code, length)
    return int(zz[0])


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _encode_planes(
    planes: list[np.ndarray],
    w: int,
    h: int,
    qt: np.ndarray,
    restart_interval: int = 0,
    sampling: list[tuple[int, int]] | None = None,
    precision: int = 8,
) -> bytes:
    """Shared baseline writer: 1 plane = grayscale, 3 = YCbCr (every
    component uses quant/Huffman table 0 — legal and simple).
    ``sampling`` gives (hs, vs) per component (default all 1x1 =
    4:4:4); each plane must already be at its subsampled resolution
    (ceil(w*hs/hmax) x ceil(h*vs/vmax)). ``precision=12`` writes an
    extended-sequential (SOF1) stream with a 2048 level shift and a
    16-bit DQT; the caller's qtable must keep every quantized level
    within the Annex-K Huffman category range (the 12-bit decoder is
    fully general, the fixture writer is not)."""
    nc = len(planes)
    if precision not in (8, 12):
        raise ValueError(f"precision must be 8 or 12, got {precision}")
    samp = sampling or [(1, 1)] * nc
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    dc_enc = _build_encode_table(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_enc = _build_encode_table(_AC_LUMA_BITS, _AC_LUMA_VALS)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    padded = [
        _pad_plane(p, mcux * s[0], mcuy * s[1], float(1 << (precision - 1)))
        for p, s in zip(planes, samp)
    ]

    writer = _BitWriter()
    pred = [0] * nc
    mcu = 0
    rst = 0
    chunks: list[bytes] = []
    for by in range(mcuy):
        for bx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                chunks.append(writer.flush())
                chunks.append(bytes([0xFF, 0xD0 + (rst % 8)]))
                rst += 1
                writer = _BitWriter()
                pred = [0] * nc
            for ci in range(nc):
                hs, vs = samp[ci]
                for v in range(vs):
                    for u in range(hs):
                        y0 = (by * vs + v) * 8
                        x0 = (bx * hs + u) * 8
                        blk = padded[ci][y0 : y0 + 8, x0 : x0 + 8]
                        pred[ci] = _encode_block(
                            writer, blk, qt, dc_enc, ac_enc, pred[ci]
                        )
            mcu += 1
    chunks.append(writer.flush())
    scan = b"".join(chunks)

    if precision == 12 or int(qt.max()) > 255:
        zz_qt = qt.reshape(64)[_ZIGZAG].astype(">u2").tobytes()
        dqt = _seg(0xDB, b"\x10" + zz_qt)  # Pq=1: 16-bit entries
    else:
        zz_qt = qt.reshape(64)[_ZIGZAG].astype(np.uint8).tobytes()
        dqt = _seg(0xDB, b"\x00" + zz_qt)
    sof_comps = b"".join(
        bytes([i + 1, (samp[i][0] << 4) | samp[i][1], 0]) for i in range(nc)
    )
    sof_marker = 0xC0 if precision == 8 else 0xC1
    sof = _seg(sof_marker, struct.pack(">BHHB", precision, h, w, nc) + sof_comps)
    dht = _seg(
        0xC4,
        b"\x00" + bytes(_DC_LUMA_BITS) + bytes(_DC_LUMA_VALS)
        + b"\x10" + bytes(_AC_LUMA_BITS) + bytes(_AC_LUMA_VALS),
    )
    dri = _seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sos_comps = b"".join(bytes([i + 1, 0x00]) for i in range(nc))
    sos = _seg(0xDA, bytes([nc]) + sos_comps + bytes([0, 63, 0]))
    return JPEG_MAGIC + dqt + sof + dht + dri + sos + scan + b"\xff\xd9"


def encode_jpeg_gray(
    arr: np.ndarray,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Minimal baseline grayscale writer (Annex K tables by default):
    the fixture generator for the real decode path. Quantization is
    ``floor(F/q + 0.5)`` (round-half-up) — see the module determinism
    contract. ``precision=12`` writes extended-sequential SOF1 with
    uint16 samples in [0, 4095] (pick a qtable that keeps quantized
    levels inside the Annex-K Huffman categories, e.g. all-32)."""
    if precision == 12:
        arr = np.asarray(arr)
        if arr.ndim == 3:
            if arr.shape[2] != 1:
                raise ValueError("encode_jpeg_gray takes a single-channel image")
            arr = arr[:, :, 0]
        arr = arr.astype(np.int64)
        if arr.size and (arr.min() < 0 or arr.max() > 4095):
            raise ValueError("12-bit samples must be in [0, 4095]")
        h, w = arr.shape
        qt = (
            np.full(64, 32, dtype=np.int64)
            if qtable is None
            else np.asarray(qtable, dtype=np.int64)
        )
        return _encode_planes(
            [arr.astype(np.float64)], w, h, qt, restart_interval, precision=12
        )
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 3:
        if arr.shape[2] != 1:
            raise ValueError("encode_jpeg_gray takes a single-channel image")
        arr = arr[:, :, 0]
    h, w = arr.shape
    qt = _QTABLE_LUMA if qtable is None else np.asarray(qtable, dtype=np.int64)
    return _encode_planes([arr.astype(np.float64)], w, h, qt, restart_interval)


def _downsample2(p: np.ndarray) -> np.ndarray:
    """2x2 box mean with half-up rounding (edge-replicated to even)."""
    h, w = p.shape
    if h % 2:
        p = np.vstack([p, p[-1:, :]])
    if w % 2:
        p = np.hstack([p, p[:, -1:]])
    q = (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
    return _half_up(q)


def encode_jpeg_rgb(
    arr: np.ndarray,
    qtable: np.ndarray | None = None,
    restart_interval: int = 0,
    subsampling: str = "444",
) -> bytes:
    """Baseline YCbCr color writer (JFIF color transform, half-up
    rounding) — exercises the decoder's 3-component path.
    ``subsampling``: "444" (no chroma subsampling) or "420" (2x2 box
    chroma downsampling, the common web-JPEG layout)."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_jpeg_rgb takes an (h, w, 3) image")
    h, w = arr.shape[:2]
    r = arr[:, :, 0].astype(np.float64)
    g = arr[:, :, 1].astype(np.float64)
    b = arr[:, :, 2].astype(np.float64)
    y = np.clip(_half_up(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
    cb = np.clip(_half_up(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0), 0, 255)
    cr = np.clip(_half_up(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0), 0, 255)
    qt = _QTABLE_LUMA if qtable is None else np.asarray(qtable, dtype=np.int64)
    if subsampling == "444":
        return _encode_planes([y, cb, cr], w, h, qt, restart_interval)
    if subsampling == "420":
        return _encode_planes(
            [y, _downsample2(cb), _downsample2(cr)],
            w, h, qt, restart_interval,
            sampling=[(2, 2), (1, 1), (1, 1)],
        )
    raise ValueError(f"subsampling {subsampling!r} not in ('444', '420')")


def flat_block_decode_value(v: int, q0: int = int(_QTABLE_LUMA[0])) -> int:
    """Closed-form decoded value of a FLAT 8x8 block of source value
    ``v`` under this codec (the SQL-oracle arithmetic): F00 = 8(v-128),
    quantize floor(F00/q0 + 0.5), dequantize, IDCT of a DC-only block
    is constant F00'/8, reconstruct floor(x + 128.5), clip."""
    import math

    lvl = math.floor(8.0 * (v - 128) / q0 + 0.5)
    x = lvl * q0 / 8.0
    return int(min(255, max(0, math.floor(x + 128.5))))


# ---------------------------------------------------------------------------
# progressive encoder (spectral selection; the fixture generator for
# the SOF2 decode path)
# ---------------------------------------------------------------------------


def _uniform_table(symbols) -> tuple[list[int], list[int], dict]:
    """Canonical Huffman table with every symbol at one code length L
    (n <= 2^L - 1 so the all-1s codeword stays reserved, T.81 C.2 —
    the decoder's 1-bit padding must never decode as a symbol).
    Returns (bits[16], values, symbol -> (code, L))."""
    syms = sorted(set(symbols))
    if not syms:
        syms = [0]  # a scan with no symbols still needs a legal table
    L = 1
    while (1 << L) - 1 < len(syms):
        L += 1
    bits = [0] * 16
    bits[L - 1] = len(syms)
    enc = {s: (i, L) for i, s in enumerate(syms)}
    return bits, syms, enc


def _dht_segment(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    return _seg(
        0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    )


def _prog_ac_scan(zzs: list[np.ndarray], ss: int, se: int, emit) -> None:
    """Spectral-selection AC band scan with EOB-run accumulation
    (T.81 G.1.2.2 shape)."""
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun == 0:
            return
        nbits = eobrun.bit_length() - 1
        emit(nbits << 4, eobrun - (1 << nbits), nbits)
        eobrun = 0

    for zz in zzs:
        r = 0
        wrote = False
        for k in range(ss, se + 1):
            v = int(zz[k])
            if v == 0:
                r += 1
                continue
            flush_eob()
            while r > 15:
                emit(0xF0, 0, 0)  # ZRL
                r -= 16
            s = _category(v)
            emit((r << 4) | s, v if v >= 0 else v + (1 << s) - 1, s)
            r = 0
            wrote = True
        if r > 0 or not wrote:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _encode_scan(build_symbols, tc: int, sos_body: bytes) -> bytes:
    """Two-pass scan assembly: collect the symbol alphabet, build a
    per-scan uniform Huffman table, emit DHT + SOS + entropy data.
    ``sym=None`` emits raw (non-Huffman) bits — refinement correction
    bits in successive-approximation scans."""
    seen: list[int] = []
    build_symbols(
        lambda sym, _v, _n: seen.append(sym) if sym is not None else None
    )
    bits, vals, enc = _uniform_table(seen)
    writer = _BitWriter()

    def emit(sym: int | None, v: int, nbits: int) -> None:
        if sym is not None:
            code, length = enc[sym]
            writer.write(code, length)
        if nbits:
            writer.write(v, nbits)

    build_symbols(emit)
    return _dht_segment(tc, 0, bits, vals) + _seg(0xDA, sos_body) + writer.flush()


def _prog_setup(
    arr: np.ndarray, qtable: np.ndarray | None
) -> tuple[list[list[np.ndarray]], int, int, int, int, int, bytes]:
    """Shared head of the progressive writers: color transform,
    quantized zigzag levels per component, and the DQT+SOF2 prefix."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    if nc not in (1, 3):
        raise ValueError(
            "progressive encoders take (h,w), (h,w,1) or (h,w,3)"
        )
    qt = _QTABLE_LUMA if qtable is None else np.asarray(qtable, dtype=np.int64)
    if nc == 3:
        r = arr[:, :, 0].astype(np.float64)
        g = arr[:, :, 1].astype(np.float64)
        b = arr[:, :, 2].astype(np.float64)
        planes = [
            np.clip(_half_up(0.299 * r + 0.587 * g + 0.114 * b), 0, 255),
            np.clip(_half_up(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0), 0, 255),
            np.clip(_half_up(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0), 0, 255),
        ]
    else:
        planes = [arr[:, :, 0].astype(np.float64)]

    bw, bh = (w + 7) // 8, (h + 7) // 8
    zz_by_comp: list[list[np.ndarray]] = []
    for p in planes:
        padded = _pad_plane(p, bw, bh)
        zzs = [
            _quantize_block(padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], qt)
            for by in range(bh)
            for bx in range(bw)
        ]
        zz_by_comp.append(zzs)

    zz_qt = qt.reshape(64)[_ZIGZAG].astype(np.uint8).tobytes()
    dqt = _seg(0xDB, b"\x00" + zz_qt)
    sof_comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(nc))
    sof = _seg(0xC2, struct.pack(">BHHB", 8, h, w, nc) + sof_comps)
    return zz_by_comp, nc, w, h, bw, bh, JPEG_MAGIC + dqt + sof


def encode_jpeg_progressive(
    arr: np.ndarray,
    qtable: np.ndarray | None = None,
    bands: tuple = ((1, 5), (6, 63)),
) -> bytes:
    """Progressive (SOF2, spectral selection) writer: one interleaved
    DC scan, then per-component AC band scans with EOB-run coding and
    per-scan uniform Huffman tables (EOBn symbols 0x10-0xE0 are not in
    the Annex K baseline table, so progressive scans carry their own
    DHT — as real encoders do). Grayscale or RGB 4:4:4. Quantized
    levels are identical to the baseline encoder's, so progressive
    decode must reproduce baseline decode EXACTLY (the test pin)."""
    lo = hi = None
    for a, b in bands:
        if not (1 <= a <= b <= 63):
            raise ValueError(f"invalid spectral band {(a, b)}")
        if lo is None:
            lo, hi = a, b
            if a != 1:
                raise ValueError("bands must start at 1")
        else:
            if a != hi + 1:
                raise ValueError("bands must be contiguous")
            hi = b
    if hi != 63:
        raise ValueError("bands must end at 63")

    zz_by_comp, nc, w, h, bw, bh, out = _prog_setup(arr, qtable)

    # scan 1: DC, all components interleaved (per-MCU = per-block at
    # 1x1 sampling; component order fixed)
    def dc_all(emit):
        preds = [0] * nc
        for bi in range(bh * bw):
            for ci in range(nc):
                zz = zz_by_comp[ci][bi]
                diff = int(zz[0]) - preds[ci]
                preds[ci] = int(zz[0])
                s = _category(diff)
                emit(s, diff if diff >= 0 else diff + (1 << s) - 1, s)

    sos_dc = bytes([nc]) + b"".join(bytes([i + 1, 0x00]) for i in range(nc)) \
        + bytes([0, 0, 0])
    out += _encode_scan(dc_all, 0, sos_dc)

    # AC band scans, one per (component, band)
    for ci in range(nc):
        for a, b2 in bands:
            def ac(emit, _ci=ci, _a=a, _b=b2):
                _prog_ac_scan(zz_by_comp[_ci], _a, _b, emit)

            sos_ac = bytes([1, ci + 1, 0x00, a, b2, 0])
            out += _encode_scan(ac, 1, sos_ac)

    return out + b"\xff\xd9"


def _prog_ac_refine_scan(
    zzs: list[np.ndarray], ss: int, se: int, al: int, emit
) -> None:
    """Successive-approximation AC refinement encoder (T.81 G.1.2.3,
    the jcphuff ``encode_mcu_AC_refine`` shape): ``zzs`` hold the TRUE
    quantized levels; Ah is implicitly ``al + 1``. Correction bits for
    already-significant coefficients are buffered and emitted after the
    next symbol (ZRL / newly-significant / EOBn) — exactly the order
    the decoder's positional advance consumes them in. ZRLs are only
    emitted up to the last newly-significant coefficient; trailing
    runs fold into the EOB run with their buffered bits."""
    eobrun = 0
    be_bits: list[int] = []

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun:
            nbits = eobrun.bit_length() - 1
            emit(nbits << 4, eobrun - (1 << nbits), nbits)
            for b in be_bits:
                emit(None, b, 1)
            be_bits.clear()
            eobrun = 0

    for zz in zzs:
        mags = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
        eob_idx = -1  # index of the LAST newly-significant coefficient
        for i, t in enumerate(mags):
            if t == 1:
                eob_idx = i
        r = 0
        br: list[int] = []
        for i, t in enumerate(mags):
            if t == 0:
                r += 1
                continue
            while r > 15 and i <= eob_idx:
                flush_eob()
                emit(0xF0, 0, 0)
                r -= 16
                for b in br:
                    emit(None, b, 1)
                br = []
            if t > 1:  # significant in an earlier scan: correction bit
                br.append(t & 1)
                continue
            flush_eob()
            emit((r << 4) | 1, 1 if int(zz[ss + i]) > 0 else 0, 1)
            for b in br:
                emit(None, b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            be_bits.extend(br)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def encode_jpeg_progressive_sa(
    arr: np.ndarray,
    qtable: np.ndarray | None = None,
    dc_al: int = 1,
    ac_al: int = 2,
) -> bytes:
    """Progressive (SOF2) writer with SUCCESSIVE APPROXIMATION — the
    fixture generator that validates the Ah/Al decode path the same way
    the SOF2 encoder validated spectral selection: the scan script
    refines every coefficient all the way to Al=0, so the decoded
    pixels must be IDENTICAL to the baseline decode of the same image
    (the test pin). Script: interleaved DC first scan at Al=``dc_al``
    then raw-bit DC refinements down to 0; per component, an AC first
    scan (1..63) at Al=``ac_al`` then refinement scans down to 0.
    Grayscale or RGB 4:4:4."""
    if dc_al < 1 or ac_al < 1:
        raise ValueError("dc_al and ac_al must be >= 1 for an SA script")
    zz_by_comp, nc, w, h, bw, bh, out = _prog_setup(arr, qtable)
    nblocks = bh * bw

    # DC first scan: diffs of the point-transformed values (arithmetic
    # shift, T.81 G.1.2.1), all components interleaved
    def dc_first(emit):
        preds = [0] * nc
        for bi in range(nblocks):
            for ci in range(nc):
                v = int(zz_by_comp[ci][bi][0]) >> dc_al
                diff = v - preds[ci]
                preds[ci] = v
                s = _category(diff)
                emit(s, diff if diff >= 0 else diff + (1 << s) - 1, s)

    sos_dc = bytes([nc]) + b"".join(bytes([i + 1, 0x00]) for i in range(nc)) \
        + bytes([0, 0, dc_al])
    out += _encode_scan(dc_first, 0, sos_dc)

    # DC refinement scans: one raw bit per block per component, no
    # Huffman table at all (T.81 G.1.2.1)
    for al in range(dc_al - 1, -1, -1):
        writer = _BitWriter()
        for bi in range(nblocks):
            for ci in range(nc):
                writer.write((int(zz_by_comp[ci][bi][0]) >> al) & 1, 1)
        sos = bytes([nc]) + b"".join(
            bytes([i + 1, 0x00]) for i in range(nc)
        ) + bytes([0, 0, ((al + 1) << 4) | al])
        out += _seg(0xDA, sos) + writer.flush()

    # AC scans per component: first scan at ac_al, then refinements
    for ci in range(nc):
        transformed = [
            np.sign(zz) * (np.abs(zz) >> ac_al) for zz in zz_by_comp[ci]
        ]

        def ac_first(emit, _t=transformed):
            _prog_ac_scan(_t, 1, 63, emit)

        out += _encode_scan(
            ac_first, 1, bytes([1, ci + 1, 0x00, 1, 63, ac_al])
        )
        for al in range(ac_al - 1, -1, -1):
            def ac_ref(emit, _ci=ci, _al=al):
                _prog_ac_refine_scan(zz_by_comp[_ci], 1, 63, _al, emit)

            out += _encode_scan(
                ac_ref, 1,
                bytes([1, ci + 1, 0x00, 1, 63, ((al + 1) << 4) | al]),
            )

    return out + b"\xff\xd9"
