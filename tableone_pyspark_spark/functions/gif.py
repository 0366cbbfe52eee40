"""Pure-Python GIF codec (stdlib struct + numpy) — the GIF sibling of
``functions/png.py`` / ``jpeg.py``.

GIF needs only LZW inflate + palette lookup, both expressible with the
stdlib: payload bytes in, typed metadata/pixels out.

Supported (per the public GIF89a specification, CompuServe 1990):
GIF87a and GIF89a, global and local color tables of any spec size
(2..256), interlaced (4-pass) and sequential frames, the full
variable-width LZW scheme (deferred-clear tolerant: a full 4096-entry
table keeps decoding at 12 bits until an explicit Clear), Graphic
Control Extensions (transparency index, disposal methods 0-3),
multi-frame animations composed onto the logical screen with correct
disposal (none / keep / restore-background / restore-previous), and
skip-tolerant handling of comment / application / plain-text
extensions. Output is always an (h, w, 3) uint8 RGB canvas per frame
(GIF pixels are palette indices; transparency controls compositing,
not an alpha channel — matching how browsers rasterize stills).

Hostile-input hardening (untrusted web-crawl corpora): logical-screen
and per-frame dimensions are bounded by ``MAX_PIXELS`` BEFORE any
allocation; the LZW inflator stops at the frame's declared pixel count
(a compression bomb cannot out-allocate the already-bounded target
buffer) and rejects truncated or corrupt code streams; animation
decodes are bounded by ``MAX_TOTAL_PIXELS`` summed across frames so a
million-frame bomb fails fast. Every hostile path raises ``ValueError``
— never struct.error, never OOM (same contract as png.py/jpeg.py).

Performance note: LZW is a Python loop over codes (inherently serial —
each code extends the dictionary the next one may reference). Fine for
thumbnails/fixtures; production would use PIL. The encoder exists for fixtures and round-trip oracles: it emits
an explicit Clear when the table fills, so encoder output never relies
on deferred-clear decoding.
"""

from __future__ import annotations

import struct

import numpy as np

GIF_MAGICS = (b"GIF87a", b"GIF89a")

#: bomb guard on any single allocation (logical screen or one frame),
#: matching png.py's PIL-calibrated default. Overridable per call.
MAX_PIXELS = 89_478_485

#: bomb guard on the SUM of frame pixels in an animation decode — the
#: uint8 RGB canvas is 3 B/pixel, so this bounds worst-case memory at
#: ~256 MB per payload regardless of frame count.
MAX_TOTAL_PIXELS = MAX_PIXELS


def is_gif(payload: bytes) -> bool:
    return payload is not None and payload[:6] in GIF_MAGICS


# --------------------------------------------------------------------------
# LZW (GIF variant: LSB-first bit packing, variable 3..12-bit codes)
# --------------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int, max_len: int) -> bytes:
    """Decode a GIF LZW code stream into at most ``max_len`` index bytes.

    Spec-compliant variable-width decode: width starts at
    ``min_code_size + 1`` and grows the moment the NEXT table slot
    would not fit (so the encoder may use the wider code immediately),
    capped at 12 bits; a full table stops growing until Clear
    (deferred-clear tolerance). Excess pixels beyond ``max_len`` are
    discarded per spec; a stream that ends before producing ``max_len``
    pixels (without EOI after enough data) raises ValueError.
    """
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"GIF: invalid LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1

    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None

    buf = 0
    bufbits = 0
    pos = 0
    n = len(data)
    while True:
        while bufbits < width:
            if pos >= n:
                # bit starvation: OK only if we already have all pixels
                if len(out) >= max_len:
                    return bytes(out[:max_len])
                raise ValueError("GIF: LZW stream truncated")
            buf |= data[pos] << bufbits
            bufbits += 8
            pos += 1
        code = buf & ((1 << width) - 1)
        buf >>= width
        bufbits -= width

        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF: LZW first code out of range")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]
            else:
                raise ValueError("GIF: corrupt LZW code stream")
            if len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
        out += entry
        prev = entry
        if len(out) >= max_len:
            # spec: trailing data beyond the frame is ignored
            return bytes(out[:max_len])
    if len(out) < max_len:
        raise ValueError(
            f"GIF: LZW produced {len(out)} of {max_len} expected pixels"
        )
    return bytes(out[:max_len])


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF LZW encoder (fixture/round-trip path). Emits an explicit
    Clear when the table reaches 4096 so decoding never depends on
    deferred-clear handling; width grows exactly when the decoder's
    will (next emitted code must fit the decoder's current width)."""
    clear = 1 << min_code_size
    eoi = clear + 1

    out = bytearray()
    buf = 0
    bufbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal buf, bufbits
        buf |= code << bufbits
        bufbits += width
        while bufbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            bufbits -= 8

    def fresh() -> tuple[dict[bytes, int], int, int]:
        return {bytes([i]): i for i in range(clear)}, eoi + 1, min_code_size + 1

    table, next_code, width = fresh()
    emit(clear, width)
    s = b""
    for b in indices:
        sc = s + bytes([b])
        if sc in table:
            s = sc
            continue
        emit(table[s], width)
        # mirror the decoder: it adds this entry AFTER reading the code
        # above, then grows width when the table hits 1 << width — so
        # the NEXT emitted code uses the wider size exactly in sync.
        table[sc] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code > 4096:
            emit(clear, 12)
            table, next_code, width = fresh()
        s = bytes([b])
    if s:
        emit(table[s], width)
    emit(eoi, width)
    if bufbits:
        out.append(buf & 0xFF)
    return bytes(out)


# --------------------------------------------------------------------------
# container parsing
# --------------------------------------------------------------------------


def _subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a sub-block chain starting at ``pos``; returns
    (payload, position-after-terminator). Bounds-checked: truncation
    raises ValueError."""
    chunks = []
    n = len(data)
    while True:
        if pos >= n:
            raise ValueError("GIF truncated: unterminated sub-block chain")
        ln = data[pos]
        pos += 1
        if ln == 0:
            return b"".join(chunks), pos
        if pos + ln > n:
            raise ValueError("GIF truncated mid sub-block")
        chunks.append(data[pos : pos + ln])
        pos += ln


def _skip_subblocks(data: bytes, pos: int) -> int:
    n = len(data)
    while True:
        if pos >= n:
            raise ValueError("GIF truncated: unterminated sub-block chain")
        ln = data[pos]
        pos += 1
        if ln == 0:
            return pos
        pos += ln
        if pos > n:
            raise ValueError("GIF truncated mid sub-block")


def _color_table(data: bytes, pos: int, size_bits: int) -> tuple[np.ndarray, int]:
    n_colors = 2 << size_bits  # 2^(size_bits+1)
    end = pos + 3 * n_colors
    if end > len(data):
        raise ValueError("GIF truncated mid color table")
    pal = np.frombuffer(data[pos:end], dtype=np.uint8).reshape(n_colors, 3)
    return pal, end


def _header(payload: bytes, max_pixels: int) -> tuple[int, int, np.ndarray | None, int, int]:
    """Validated (screen_w, screen_h, gct | None, bg_index, pos) from
    the header + logical screen descriptor, BEFORE any allocation."""
    if len(payload) < 13:
        raise ValueError("GIF truncated: no logical screen descriptor")
    if payload[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF payload")
    w, h, packed, bg, _aspect = struct.unpack_from("<HHBBB", payload, 6)
    if w == 0 or h == 0:
        raise ValueError("GIF: zero-sized logical screen")
    if w * h > max_pixels:
        raise ValueError(f"GIF bomb guard: {w}x{h} exceeds {max_pixels} pixels")
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _color_table(payload, pos, packed & 0x07)
    return w, h, gct, bg, pos


class _Frame:
    __slots__ = ("left", "top", "w", "h", "interlace", "palette",
                 "indices", "transparent", "disposal", "delay_cs")


def _parse_frames(payload: bytes, max_pixels: int, max_total: int,
                  first_only: bool):
    """Walk the block stream yielding decoded frames; shared by the
    decoders and (with ``indices`` skipped) by :func:`gif_meta`."""
    sw, sh, gct, bg, pos = _header(payload, max_pixels)
    frames: list[_Frame] = []
    total_px = 0
    n = len(payload)
    # pending graphic-control state (applies to the next image only)
    transparent = None
    disposal = 0
    delay_cs = 0
    while True:
        if pos >= n:
            raise ValueError("GIF truncated: no trailer")
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= n:
                raise ValueError("GIF truncated: bare extension introducer")
            label = payload[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                body, pos = _subblocks(payload, pos)
                if len(body) >= 4:
                    flags = body[0]
                    delay_cs = body[1] | (body[2] << 8)
                    disposal = (flags >> 2) & 0x07
                    transparent = body[3] if flags & 0x01 else None
            else:  # comment / application / plain text: skip
                pos = _skip_subblocks(payload, pos)
            continue
        if block == 0x2C:  # image descriptor
            if pos + 9 > n:
                raise ValueError("GIF truncated mid image descriptor")
            left, top, fw, fh, packed = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            if fw == 0 or fh == 0:
                raise ValueError("GIF: zero-sized frame")
            if fw * fh > max_pixels:
                raise ValueError(
                    f"GIF bomb guard: frame {fw}x{fh} exceeds {max_pixels} pixels"
                )
            total_px += fw * fh
            if total_px > max_total:
                raise ValueError(
                    f"GIF bomb guard: animation exceeds {max_total} total pixels"
                )
            pal = gct
            if packed & 0x80:
                pal, pos = _color_table(payload, pos, packed & 0x07)
            if pal is None:
                raise ValueError("GIF: frame has neither local nor global palette")
            if pos >= n:
                raise ValueError("GIF truncated: no LZW min code size")
            mcs = payload[pos]
            pos += 1
            data, pos = _subblocks(payload, pos)
            f = _Frame()
            f.left, f.top, f.w, f.h = left, top, fw, fh
            f.interlace = bool(packed & 0x40)
            f.palette = pal
            f.transparent = transparent
            f.disposal = disposal
            f.delay_cs = delay_cs
            f.indices = np.frombuffer(
                _lzw_decode(data, mcs, fw * fh), dtype=np.uint8
            ).reshape(fh, fw)
            if f.interlace:
                f.indices = _deinterlace(f.indices)
            frames.append(f)
            transparent, disposal, delay_cs = None, 0, 0
            if first_only:
                break
            continue
        raise ValueError(f"GIF: unknown block type 0x{block:02x}")
    if not frames:
        raise ValueError("GIF: no image data")
    return sw, sh, gct, bg, frames


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        n_rows = len(range(start, h, step))
        out[start::step] = rows[src : src + n_rows]
        src += n_rows
    return out


def _interlace_rows(h: int) -> list[int]:
    order: list[int] = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    return order


# --------------------------------------------------------------------------
# public decode API
# --------------------------------------------------------------------------


def gif_meta(payload: bytes, max_pixels: int = MAX_PIXELS) -> tuple[int, int, str, int]:
    """(screen_w, screen_h, version, n_frames) from the container walk
    only — LZW streams are skipped, not decoded, so this is cheap even
    for large animations."""
    sw, sh, _gct, _bg, pos = _header(payload, max_pixels)
    version = payload[3:6].decode("ascii")
    n_frames = 0
    n = len(payload)
    while pos < n:
        block = payload[pos]
        pos += 1
        if block == 0x3B:
            return sw, sh, version, n_frames
        if block == 0x21:
            if pos >= n:
                raise ValueError("GIF truncated: bare extension introducer")
            pos = _skip_subblocks(payload, pos + 1)
            continue
        if block == 0x2C:
            if pos + 9 > n:
                raise ValueError("GIF truncated mid image descriptor")
            packed = payload[pos + 8]
            pos += 9
            if packed & 0x80:
                pos += 3 * (2 << (packed & 0x07))
                if pos > n:
                    raise ValueError("GIF truncated mid color table")
            pos = _skip_subblocks(payload, pos + 1)  # +1 skips LZW mcs
            n_frames += 1
            continue
        raise ValueError(f"GIF: unknown block type 0x{block:02x}")
    raise ValueError("GIF truncated: no trailer")


def decode_gif(payload: bytes, max_pixels: int = MAX_PIXELS) -> np.ndarray:
    """First frame composed onto the logical screen as (h, w, 3) uint8
    RGB — the still-image view of the payload. Off-frame screen area takes the background color;
    transparent pixels keep it."""
    sw, sh, gct, bg, frames = _parse_frames(
        payload, max_pixels, MAX_TOTAL_PIXELS, first_only=True
    )
    canvas = _background(sw, sh, gct, bg)
    _compose(canvas, frames[0])
    return canvas


def decode_gif_frames(
    payload: bytes,
    max_pixels: int = MAX_PIXELS,
    max_total_pixels: int = MAX_TOTAL_PIXELS,
) -> list[np.ndarray]:
    """Every animation frame as its fully-composed (screen_h, screen_w,
    3) canvas, honoring disposal methods 0/1 (keep), 2 (restore
    background over the frame rect), and 3 (restore previous canvas).
    Bounded by ``max_total_pixels`` summed over frames."""
    sw, sh, gct, bg, frames = _parse_frames(
        payload, max_pixels, max_total_pixels, first_only=False
    )
    canvas = _background(sw, sh, gct, bg)
    out: list[np.ndarray] = []
    for f in frames:
        before = canvas.copy() if f.disposal == 3 else None
        _compose(canvas, f)
        out.append(canvas.copy())
        if f.disposal == 2:
            y0, y1 = f.top, min(f.top + f.h, sh)
            x0, x1 = f.left, min(f.left + f.w, sw)
            # background is a single color: write it straight into the
            # frame rect (no per-frame screen-sized canvas allocation)
            if gct is not None and bg < gct.shape[0]:
                canvas[y0:y1, x0:x1] = gct[bg]
            else:
                canvas[y0:y1, x0:x1] = 0
        elif f.disposal == 3 and before is not None:
            canvas = before
    return out


def _background(sw: int, sh: int, gct: np.ndarray | None, bg: int) -> np.ndarray:
    canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
    if gct is not None and bg < gct.shape[0]:
        canvas[:, :] = gct[bg]
    return canvas


def _compose(canvas: np.ndarray, f: _Frame) -> None:
    sh, sw, _ = canvas.shape
    y1 = min(f.top + f.h, sh)
    x1 = min(f.left + f.w, sw)
    if y1 <= f.top or x1 <= f.left:
        return  # frame entirely off-screen
    idx = f.indices[: y1 - f.top, : x1 - f.left]
    n_pal = f.palette.shape[0]
    if f.transparent is not None:
        # transparent pixels never hit the palette, so only the opaque
        # ones must be in range (wild GIFs use transparent == n_pal)
        mask = idx != f.transparent
        if mask.any() and int(idx[mask].max()) >= n_pal:
            raise ValueError("GIF: pixel index outside palette")
        rgb = f.palette[np.minimum(idx, n_pal - 1)]
        region = canvas[f.top : y1, f.left : x1]
        region[mask] = rgb[mask]
    else:
        if int(idx.max(initial=0)) >= n_pal:
            raise ValueError("GIF: pixel index outside palette")
        canvas[f.top : y1, f.left : x1] = f.palette[idx]


# --------------------------------------------------------------------------
# encode (fixture / round-trip path)
# --------------------------------------------------------------------------


def _palette_block(palette: np.ndarray) -> tuple[bytes, int]:
    """(raw table bytes padded to a power of two, size_bits field)."""
    n = palette.shape[0]
    if not 2 <= n <= 256:
        raise ValueError("GIF palette must have 2..256 entries")
    bits = max(1, (n - 1).bit_length())
    padded = np.zeros((1 << bits, 3), dtype=np.uint8)
    padded[:n] = palette
    return padded.tobytes(), bits - 1


def encode_gif(
    idx: np.ndarray,
    palette: np.ndarray,
    interlace: bool = False,
    version: bytes = b"89a",
    transparent: int | None = None,
) -> bytes:
    """Single-frame writer: ``idx`` is an (h, w) uint8 index plane,
    ``palette`` an (n<=256, 3) uint8 RGB table written as the global
    color table. ``transparent`` (89a only) adds a Graphic Control
    Extension naming that index."""
    frames = [(idx, 0, 0, 0, 0, transparent)]
    h, w = np.asarray(idx).shape
    return encode_gif_animation(frames, palette, w, h,
                                interlace=interlace, version=version)


def encode_gif_animation(
    frames: list[tuple],
    palette: np.ndarray,
    screen_w: int,
    screen_h: int,
    interlace: bool = False,
    version: bytes = b"89a",
    bg_index: int = 0,
) -> bytes:
    """Multi-frame writer. Each frame is (idx, left, top, disposal,
    delay_cs, transparent). A Graphic Control Extension is emitted
    whenever any of disposal/delay/transparent is set (requires 89a;
    87a payloads with GCEs are rejected here, though the decoder — like
    real-world ones — tolerates them)."""
    if version not in (b"87a", b"89a"):
        raise ValueError("GIF version must be b'87a' or b'89a'")
    palette = np.asarray(palette, dtype=np.uint8)
    if palette.ndim != 2 or palette.shape[1] != 3:
        raise ValueError("palette must be (n, 3)")
    table, size_bits = _palette_block(palette)
    mcs = max(2, size_bits + 1)

    out = bytearray()
    out += b"GIF" + version
    out += struct.pack("<HHBBB", screen_w, screen_h,
                       0x80 | (size_bits & 0x07), bg_index, 0)
    out += table
    for idx, left, top, disposal, delay_cs, transparent in frames:
        idx = np.asarray(idx, dtype=np.uint8)
        if idx.ndim != 2:
            raise ValueError("frame index plane must be (h, w)")
        h, w = idx.shape
        if int(idx.max(initial=0)) >= palette.shape[0]:
            raise ValueError("frame references index outside palette")
        if disposal or delay_cs or transparent is not None:
            if version == b"87a":
                raise ValueError("Graphic Control Extension requires GIF89a")
            flags = ((disposal & 0x07) << 2) | (1 if transparent is not None else 0)
            out += bytes([0x21, 0xF9, 4, flags,
                          delay_cs & 0xFF, (delay_cs >> 8) & 0xFF,
                          transparent if transparent is not None else 0, 0])
        out += bytes([0x2C])
        out += struct.pack("<HHHHB", left, top, w, h,
                           0x40 if interlace else 0x00)
        rows = idx[_interlace_rows(h)] if interlace else idx
        out += bytes([mcs])
        data = _lzw_encode(rows.tobytes(), mcs)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)
