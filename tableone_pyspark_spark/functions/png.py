"""Pure-Python PNG codec (stdlib zlib/struct + numpy).

PNG's baseline format needs only inflate + per-scanline unfiltering —
both expressible with the stdlib: payload bytes in, typed
metadata/pixels out.

Supported: every spec-valid (depth × color type) combination — gray
1/2/4/8/16, palette 1/2/4/8 (expanded to RGB via PLTE, RGBA with
tRNS), RGB / gray+alpha / RGBA 8/16 — all five scanline filters
(byte-wise with the per-depth bpp, per spec), Adam7 interlace (seven
independently-filtered sub-images scattered back), and tRNS
transparency (palette alpha table; gray/RGB single-color key → an
alpha channel is appended). The decoder is feature-complete for
static PNG; ancillary chunks (gAMA/iCCP/text/...) are skipped by
design. 16-bit images decode to uint16 (``grayscale``/dHash
down-convert via the high byte); sub-byte gray scales to 8-bit
presentation exactly (255/(2^d−1) is integral). ``png_meta`` reports
IHDR-derived channels only — it does not scan for tRNS, so a
transparent image's DECODED array may carry one more channel.

Hostile-input hardening (the corpora are untrusted web crawl): IHDR
dimensions are bounded by ``MAX_PIXELS`` before any allocation, and
IDAT inflates incrementally with a hard output cap, so a decompression
bomb or absurd declared size fails fast with ``ValueError`` instead of
OOMing the executor.

Performance note: filters 1/3/4 carry a byte-serial data dependency
(each byte needs the reconstructed byte ``bpp`` to its left), so those
rows decode in a Python loop — fine for thumbnails/fixtures, not for
4K photos; filter 0/2 rows are vectorized. The encoder always writes
filter 0, so round-trips of our own output stay on the fast path.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: color type -> samples per pixel IN THE CODED STREAM (palette = 1
#: index byte per pixel; it expands to 3 output channels post-lookup)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: hard cap on w*h before any allocation (PIL's MAX_IMAGE_PIXELS-style
#: bomb guard; ~89M matches PIL's default). Overridable per call.
MAX_PIXELS = 89_478_485


def is_png(payload: bytes) -> bool:
    return payload is not None and payload[:8] == PNG_MAGIC


def _chunks(data: bytes):
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        if pos + 12 + length > len(data):
            raise ValueError("PNG truncated mid-chunk")
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r}: CRC mismatch")
        yield tag, body
        pos += 12 + length
        if tag == b"IEND":
            return
    raise ValueError("PNG truncated: no IEND chunk")


def _ihdr(payload: bytes, max_pixels: int) -> tuple[int, int, int, int, int]:
    """Validated (w, h, depth, color, interlace) from IHDR; raises on
    anything the decoder can't honestly handle, BEFORE any buffer is
    sized."""
    if not is_png(payload):
        raise ValueError("not a PNG payload")
    tag, body = next(_chunks(payload))
    if tag != b"IHDR" or len(body) != 13:
        raise ValueError("PNG: first chunk is not a valid IHDR")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
    if color not in _CHANNELS:
        raise NotImplementedError(f"PNG color type {color} unsupported")
    # spec-valid depth per color type (11.2.2); we support all except
    # 16-bit is excluded for palette by the spec itself
    valid = {0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8)}.get(color, (8, 16))
    if depth not in valid:
        raise ValueError(
            f"PNG bit depth {depth} invalid for color type {color}"
        )
    if interlace not in (0, 1):
        raise ValueError(f"PNG: invalid interlace method {interlace}")
    if comp != 0 or filt != 0:
        raise ValueError("PNG: nonstandard compression/filter method")
    if w == 0 or h == 0:
        raise ValueError("PNG: zero-dimension image")
    if w * h > max_pixels:
        raise ValueError(
            f"PNG: {w}x{h} exceeds max_pixels={max_pixels} (bomb guard)"
        )
    return w, h, depth, color, interlace


def png_meta(
    payload: bytes, max_pixels: int = MAX_PIXELS
) -> tuple[int, int, int, int]:
    """(width, height, out_channels, bit_depth) from IHDR only — no
    decompression, the cheap pre-pass for sizing a decode job.
    ``out_channels`` is the DECODED channel count (palette -> 3)."""
    w, h, depth, color, _interlace = _ihdr(payload, max_pixels)
    return w, h, (3 if color == 3 else _CHANNELS[color]), depth


def _unfilter(
    raw: bytes, pos: int, n_rows: int, stride: int, bpp: int
) -> tuple[np.ndarray, int]:
    """Invert the five scanline filters over ``n_rows`` rows starting
    at ``pos``; returns the (n_rows, stride) byte plane + new pos."""
    out = np.zeros((n_rows, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(n_rows):
        f = raw[pos]
        pos += 1
        cur = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos).copy()
        pos += stride
        if f == 0:
            pass
        elif f == 2:  # Up — vectorized, uint8 addition wraps mod 256
            cur += prev
        elif f == 1:  # Sub — serial in x (needs reconstructed left byte)
            for x in range(bpp, stride):
                cur[x] = (int(cur[x]) + int(cur[x - bpp])) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (cur[x] + ((a + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {f} on row {y}")
        out[y] = cur
        prev = out[y]
    return out, pos


#: Adam7 pass grid: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _adam7_pass_dims(w: int, h: int) -> list[tuple[int, int]]:
    return [
        (max(0, (w - x0 + dx - 1) // dx), max(0, (h - y0 + dy - 1) // dy))
        for x0, y0, dx, dy in _ADAM7
    ]


def _deinterlace_adam7(raw: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Seven sequential sub-images (each filtered independently, spec
    §8.2) scattered back onto the full byte plane."""
    out = np.zeros((h, w, bpp), dtype=np.uint8)
    pos = 0
    for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_pass_dims(w, h)):
        if pw == 0 or ph == 0:
            continue
        rows, pos = _unfilter(raw, pos, ph, pw * bpp, bpp)
        ys = y0 + np.arange(ph) * dy
        xs = x0 + np.arange(pw) * dx
        out[np.ix_(ys, xs)] = rows.reshape(ph, pw, bpp)
    return out.reshape(h, w * bpp)


def decode_png(payload: bytes, max_pixels: int = MAX_PIXELS) -> np.ndarray:
    """Decode to a (height, width, channels) array — uint8 for 8-bit
    images, uint16 (big-endian samples per spec) for 16-bit."""
    w, h, depth, color, interlace = _ihdr(payload, max_pixels)
    channels = _CHANNELS[color]  # coded samples/pixel (palette: 1)
    plte = None
    trns = None
    idat_parts = []
    for tag, body in _chunks(payload):
        if tag == b"IDAT":
            idat_parts.append(body)
        elif tag == b"PLTE":
            plte = body
        elif tag == b"tRNS":
            trns = body
    if color in (4, 6):
        trns = None  # spec forbids tRNS with an alpha channel; ignore
    idat = b"".join(idat_parts)

    def row_bytes(n_px: int) -> int:
        return (n_px * channels * depth + 7) // 8

    # bytes per pixel for FILTERING (spec 7.2: sub-byte packs round up
    # to one byte)
    bpb = max(1, channels * depth // 8)
    stride = row_bytes(w)
    if interlace:
        expected = sum(
            ph * (1 + row_bytes(pw))
            for pw, ph in _adam7_pass_dims(w, h)
            if pw and ph
        )
    else:
        expected = h * (stride + 1)
    # incremental inflate with a hard cap: a zip bomb overflows the cap
    # and fails fast instead of materializing gigabytes
    d = zlib.decompressobj()
    raw = d.decompress(idat, expected + 1)
    if len(raw) > expected:
        raise ValueError(
            f"PNG: decompressed stream exceeds expected {expected} bytes "
            "(decompression bomb?)"
        )
    if len(raw) != expected:
        raise ValueError(
            f"PNG: decompressed size {len(raw)} != expected {expected}"
        )
    if color == 3:
        if plte is None or len(plte) % 3 != 0 or len(plte) == 0:
            raise ValueError("PNG: palette image without a valid PLTE chunk")
    if depth < 8:
        # sub-byte gray/palette: unfilter byte-wise (bpp=1), unpack
        # big-endian bit groups to one sample per pixel
        if interlace:
            samples = np.zeros((h, w), dtype=np.uint8)
            pos = 0
            for (x0, y0, dx, dy), (pw, ph) in zip(
                _ADAM7, _adam7_pass_dims(w, h)
            ):
                if pw == 0 or ph == 0:
                    continue
                rows, pos = _unfilter(raw, pos, ph, row_bytes(pw), 1)
                px = _unpack_subbyte(rows, pw, depth)
                samples[y0::dy, x0::dx] = px
        else:
            rows, _pos = _unfilter(raw, 0, h, stride, 1)
            samples = _unpack_subbyte(rows, w, depth)
        if color == 3:
            return _plte_lookup(samples, plte, trns)
        # gray presentation scaling: 2^d-1 -> 255 (exact: 255 divisible
        # by 1, 3, 15). Color-key compares RAW samples (key is in
        # sample depth), alpha scales with presentation.
        gray8 = (
            samples.astype(np.uint16) * (255 // ((1 << depth) - 1))
        ).astype(np.uint8)[:, :, None]
        if trns is not None:
            key = int.from_bytes(trns[:2], "big")
            alpha = np.where(samples == key, 0, 255).astype(np.uint8)
            return np.concatenate([gray8, alpha[:, :, None]], axis=2)
        return gray8

    if interlace:
        out = _deinterlace_adam7(raw, w, h, bpb)
    else:
        out, _pos = _unfilter(raw, 0, h, stride, bpb)
    if color == 3:
        return _plte_lookup(out.reshape(h, w), plte, trns)
    if depth == 16:
        # big-endian sample assembly after byte-wise unfiltering
        b16 = out.reshape(h, w * channels, 2).astype(np.uint16)
        arr = ((b16[:, :, 0] << 8) | b16[:, :, 1]).reshape(h, w, channels)
    else:
        arr = out.reshape(h, w, channels)
    if trns is not None and color in (0, 2):
        # color-key transparency: the tRNS chunk names ONE fully-
        # transparent sample tuple (2 bytes per sample, spec 11.3.2)
        key = np.frombuffer(trns, dtype=">u2")[:channels].astype(arr.dtype)
        mask = np.all(arr == key[None, None, :], axis=2)
        maxa = 65535 if arr.dtype == np.uint16 else 255
        alpha = np.where(mask, 0, maxa).astype(arr.dtype)
        return np.concatenate([arr, alpha[:, :, None]], axis=2)
    return arr


def _unpack_subbyte(rows: np.ndarray, n_px: int, depth: int) -> np.ndarray:
    """(n_rows, row_bytes) packed plane -> (n_rows, n_px) samples:
    big-endian bit groups, high bits first within each byte (spec 7.2)."""
    bits = np.unpackbits(rows, axis=1)
    per = bits[:, : n_px * depth].reshape(rows.shape[0], n_px, depth)
    weights = 1 << np.arange(depth - 1, -1, -1, dtype=np.uint8)
    return (per * weights).sum(axis=2).astype(np.uint8)


def _plte_lookup(
    idx: np.ndarray, plte: bytes | None, trns: bytes | None = None
) -> np.ndarray:
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("PNG: palette index out of PLTE range")
    if trns is None:
        return pal[idx]
    # per-entry alpha table; entries past the chunk default to opaque
    alpha = np.full(pal.shape[0], 255, dtype=np.uint8)
    a = np.frombuffer(trns, dtype=np.uint8)[: pal.shape[0]]
    alpha[: len(a)] = a
    return np.dstack([pal[idx], alpha[idx]])


def _make_chunk(tag: bytes, body: bytes) -> bytes:
    """Length + tag + body + CRC32 framing shared by both encoders."""
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """Minimal PNG writer (filter 0, one IDAT) for fixtures and the
    resize kernel's output. Accepts (h, w) or (h, w, c), c≤4; uint8
    writes 8-bit, uint16 writes 16-bit (big-endian samples)."""
    arr = np.asarray(arr)
    depth = 16 if arr.dtype == np.uint16 else 8
    arr = arr.astype(np.uint16 if depth == 16 else np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    if depth == 16:
        arr = arr.astype(">u2")
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
    return (
        PNG_MAGIC
        + _make_chunk(b"IHDR", ihdr)
        + _make_chunk(b"IDAT", zlib.compress(raw, 6))
        + _make_chunk(b"IEND", b"")
    )


def encode_png_palette(idx: np.ndarray, palette: np.ndarray) -> bytes:
    """Minimal color-type-3 writer: ``idx`` is an (h, w) uint8 index
    plane, ``palette`` an (n<=256, 3) uint8 RGB table written as PLTE.
    Filter 0 rows, one IDAT — the palette twin of :func:`encode_png`,
    used by fixtures to exercise the PLTE decode path."""
    idx = np.asarray(idx, dtype=np.uint8)
    palette = np.asarray(palette, dtype=np.uint8)
    if idx.ndim != 2 or palette.ndim != 2 or palette.shape[1] != 3:
        raise ValueError("idx must be (h, w), palette (n, 3)")
    if palette.shape[0] > 256:
        raise ValueError("palette larger than 256 entries")
    h, w = idx.shape
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    return (
        PNG_MAGIC
        + _make_chunk(b"IHDR", ihdr)
        + _make_chunk(b"PLTE", palette.tobytes())
        + _make_chunk(b"IDAT", zlib.compress(raw, 6))
        + _make_chunk(b"IEND", b"")
    )


def resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample of an (h, w, c) array — pure index
    arithmetic, the deterministic baseline every engine reproduces."""
    h, w = arr.shape[:2]
    ys = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    xs = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return arr[ys][:, xs]


def grayscale(arr: np.ndarray) -> np.ndarray:
    """(h, w, c) -> (h, w) luma. RGB(A) uses integer-weighted BT.601
    (exact: (77R + 150G + 29B) >> 8); gray(+alpha) takes channel 0.
    16-bit input is down-converted via the high byte first."""
    if arr.dtype == np.uint16:
        arr = (arr >> 8).astype(np.uint8)
    if arr.shape[2] >= 3:
        r = arr[:, :, 0].astype(np.int64)
        g = arr[:, :, 1].astype(np.int64)
        b = arr[:, :, 2].astype(np.int64)
        return ((77 * r + 150 * g + 29 * b) >> 8).astype(np.uint8)
    return arr[:, :, 0]


def dhash63(arr: np.ndarray) -> int:
    """Real dHash on decoded pixels: grayscale -> 9x8 nearest resize ->
    row-wise gradient bits, keeping 63 bits so the value stays positive
    in a signed long on every engine)."""
    g = resize_nearest(grayscale(arr)[:, :, None], 9, 8)[:, :, 0].astype(np.int64)
    bits = (g[:, 1:] > g[:, :-1]).astype(np.int64).ravel()[:63]
    weights = 1 << np.arange(bits.size, dtype=np.int64)
    return int((bits * weights).sum())
