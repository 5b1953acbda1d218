"""Pure-Python GIF codec (87a/89a stills).

Screenshots and web corpora carry GIFs; with PNG and JPEG already real,
this closes the last common still-image format. Implements the W3C/
CompuServe spec: logical screen + global/local color tables, variable-
width LZW (clear/EOI codes, 12-bit cap), the 4-pass row interlace, and
the 89a graphic-control transparency index. ``decode_gif`` returns the
FIRST frame (the corpus-still contract) as (H, W, 3) RGB or (H, W, 4)
RGBA when a transparent index is declared; later animation frames and
disposal composition are out of scope. The encoder exists for tests and
writes a single-frame 89a file with a power-of-two global color table.

Spec: GIF89a specification (CompuServe, 1990; W3C archive) — header
§17-18, image descriptor §20, LZW §22, interlace §26.4.
"""

from __future__ import annotations

import struct

import numpy as np


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-variant LZW: emit CLEAR, build the string table up to 4095,
    re-CLEAR on overflow, terminate with EOI; codes packed LSB-first."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    # dictionary keyed on (prefix code, next index): O(1) per pixel.
    # Byte-string keys go quadratic on smooth data (long matches mean
    # each concat+hash is O(match length)); single-symbol strings are
    # the implicit codes 0..clear-1. Emits the identical bitstream.
    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    prev_code = -1
    for v in indices.reshape(-1).tolist():
        if prev_code < 0:
            prev_code = v
            continue
        nc = table.get((prev_code, v))
        if nc is not None:
            prev_code = nc
            continue
        emit(prev_code, width)
        table[(prev_code, v)] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        elif next_code >= 4096:
            emit(clear, width)
            table.clear()
            next_code = eoi + 1
            width = min_code_size + 1
        prev_code = v
    if prev_code >= 0:
        emit(prev_code, width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> np.ndarray:
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    n = len(data)
    while len(out) < n_expected:
        while nbits < width:
            if pos >= n:
                raise ValueError("GIF: truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF: bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            # 12-bit table cap: encoders using deferred clear codes stop
            # defining entries at 4096 — the decoder must too, or later
            # codes map to entries the encoder never defined (ADVICE r3)
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("GIF: LZW code out of range")
        out += entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    if len(out) < n_expected:
        raise ValueError("GIF: LZW stream ended early")
    return np.frombuffer(bytes(out[:n_expected]), dtype=np.uint8)


def _subblocks(payload: bytes) -> bytes:
    """Wrap raw bytes into <=255-byte GIF sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(payload), 255):
        part = payload[i : i + 255]
        out.append(len(part))
        out += part
    out.append(0)
    return bytes(out)


_INTERLACE_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]  # spec §26.4


def encode_gif(
    indices: np.ndarray,
    palette: np.ndarray,
    transparent: int | None = None,
    interlace: bool = False,
) -> bytes:
    """uint8 (H, W) palette indices + (N, 3) RGB palette -> GIF89a bytes."""
    indices = np.ascontiguousarray(indices, dtype=np.uint8)
    palette = np.ascontiguousarray(palette, dtype=np.uint8)
    if indices.ndim != 2 or palette.ndim != 2 or palette.shape[1] != 3:
        raise ValueError("encode_gif: (H,W) indices + (N,3) palette")
    h, w = indices.shape
    depth = max(int(len(palette) - 1).bit_length(), 1)  # table size 2^depth
    if int(indices.max(initial=0)) >= (1 << depth):
        raise ValueError("encode_gif: index out of palette range")
    gct = np.zeros((1 << depth, 3), dtype=np.uint8)
    gct[: len(palette)] = palette
    header = b"GIF89a" + struct.pack(
        "<HHBBB", w, h, 0x80 | ((depth - 1) << 4) | (depth - 1), 0, 0
    )
    gce = b""
    if transparent is not None:
        gce = b"\x21\xf9\x04" + bytes([0x01, 0, 0, transparent]) + b"\x00"
    rows = indices
    if interlace:
        rows = np.concatenate(
            [indices[start::step] for (start, step) in _INTERLACE_PASSES]
        )
    min_code = max(depth, 2)
    img = (
        struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0)
        + bytes([min_code])
        + _subblocks(_lzw_encode(rows, min_code))
    )
    return header + gct.tobytes() + gce + img + b"\x3b"


def _parse_screen(data: bytes):
    """Header + logical screen descriptor + global color table."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("GIF: bad signature")
    sw, sh, packed, bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    # plausibility gate before any screen-sized allocation (same class as
    # the TIFF/PNG gates: a corrupt descriptor can declare 65535x65535
    # -> a ~13 GB canvas per frame)
    if not (0 < sw and 0 < sh and sw * sh <= 1 << 28):
        raise ValueError(f"GIF: implausible logical screen {sw}x{sh}")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(
            -1, 3
        )
        pos += 3 * n
    return sw, sh, bg, gct, pos


def _parse_image_block(data: bytes, pos: int, gct):
    """One image descriptor at ``pos`` (data[pos] == 0x2C): returns
    (idx array, color table, left, top, next pos), de-interlaced."""
    left, top, w, h, ipacked = struct.unpack(
        "<HHHHB", data[pos + 1 : pos + 10]
    )
    pos += 10
    ct = gct
    if ipacked & 0x80:  # local color table
        n = 2 << (ipacked & 0x07)
        ct = np.frombuffer(
            data[pos : pos + 3 * n], dtype=np.uint8
        ).reshape(-1, 3)
        pos += 3 * n
    if ct is None:
        raise ValueError("GIF: no color table")
    min_code = data[pos]
    pos += 1
    lzw = bytearray()
    while data[pos] != 0:
        size = data[pos]
        lzw += data[pos + 1 : pos + 1 + size]
        pos += 1 + size
    pos += 1
    idx = _lzw_decode(bytes(lzw), min_code, w * h).reshape(h, w)
    if ipacked & 0x40:  # de-interlace: passes wrote consecutive rows
        out = np.empty_like(idx)
        row = 0
        for (start, step) in _INTERLACE_PASSES:
            n_rows = len(range(start, h, step))
            out[start::step] = idx[row : row + n_rows]
            row += n_rows
        idx = out
    if int(idx.max(initial=0)) >= len(ct):
        raise ValueError("GIF: palette index out of range")
    return idx, ct, left, top, pos


def _parse_gce(data: bytes, pos: int):
    """Extension block at ``pos`` (data[pos] == 0x21): returns
    (transparent index | None, disposal, next pos, was_gce). Non-GCE
    extensions (comment, application, plain-text) return was_gce=False
    so callers keep a pending graphic-control state — the GCE applies to
    the NEXT graphic block regardless of extensions in between."""
    label = data[pos + 1]
    pos += 2
    transparent, disposal, was_gce = None, 0, False
    if label == 0xF9 and data[pos] >= 4:  # graphic control
        flags, _delay, tidx = struct.unpack("<BHB", data[pos + 1 : pos + 5])
        if flags & 0x01:
            transparent = tidx
        disposal = (flags >> 2) & 0x07
        was_gce = True
    while data[pos] != 0:  # skip sub-blocks
        pos += 1 + data[pos]
    pos += 1
    return transparent, disposal, pos, was_gce


def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes -> first frame as uint8 (H, W, 3) RGB, or (H, W, 4) RGBA
    when the frame declares a transparent index. Animations decode their
    FIRST frame; use ``decode_gif_frames`` for the composed sequence."""
    sw, sh, bg, gct, pos = _parse_screen(data)
    transparent = None
    while pos < len(data):
        block = data[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            t, _disposal, pos, was_gce = _parse_gce(data, pos)
            if was_gce and t is not None:
                transparent = t
            continue
        if block != 0x2C:
            raise ValueError(f"GIF: unknown block 0x{block:02x}")
        idx, ct, left, top, pos = _parse_image_block(data, pos, gct)
        h, w = idx.shape
        if (left, top, w, h) != (0, 0, sw, sh):
            # frame covers a sub-rectangle of the logical screen (optimizer
            # output): compose onto the background-filled canvas like PIL
            canvas = np.full(
                (sh, sw),
                bg if bg < len(ct) else 0,
                dtype=np.uint8,
            )
            canvas[top : top + h, left : left + w] = idx
            idx = canvas
        # (range check happened in _parse_image_block; the canvas fill
        # value is clamped below len(ct) at construction)
        rgb = ct[idx]
        if transparent is None:
            return rgb
        alpha = np.where(idx == transparent, 0, 255).astype(np.uint8)
        return np.dstack([rgb, alpha])
    raise ValueError("GIF: no image descriptor")


def iter_gif_frames(data: bytes, max_frames: int = 10000):
    """Yield composed animation frames one at a time: uint8 (H, W, 3)
    RGB at the logical screen size, honoring sub-rectangle frames,
    per-frame transparency (a compositing hole, not an alpha channel)
    and the GIF89a disposal methods (1 leave, 2 restore-to-background,
    3 restore-to-previous). Composition is inherently sequential, but a
    streaming consumer (e.g. a frame sampler) holds only one canvas at
    a time instead of the whole animation. The frame count is capped so
    a corrupt stream terminates; a stream with no image descriptor
    raises on the first next()."""
    sw, sh, bg, gct, pos = _parse_screen(data)
    bg_rgb = (
        gct[bg] if gct is not None and bg < len(gct)
        else np.zeros(3, np.uint8)
    )
    canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
    n_frames = 0
    transparent, disposal = None, 0
    while pos < len(data):
        block = data[pos]
        if block == 0x3B:
            break
        if block == 0x21:
            t, d, pos, was_gce = _parse_gce(data, pos)
            if was_gce:  # keep pending GCE across comment/app extensions
                transparent, disposal = t, d
            continue
        if block != 0x2C:
            raise ValueError(f"GIF: unknown block 0x{block:02x}")
        if n_frames >= max_frames:
            raise ValueError("GIF: frame count exceeds max_frames")
        idx, ct, left, top, pos = _parse_image_block(data, pos, gct)
        h, w = idx.shape
        if top + h > sh or left + w > sw:
            raise ValueError("GIF: frame exceeds logical screen")
        saved = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + h, left : left + w]
        rgb = ct[idx]
        if transparent is not None:
            mask = idx != transparent
            region[mask] = rgb[mask]
        else:
            region[...] = rgb
        n_frames += 1
        yield canvas.copy()
        if disposal == 2:
            canvas[top : top + h, left : left + w] = bg_rgb
        elif disposal == 3 and saved is not None:
            canvas = saved
        transparent, disposal = None, 0
    if n_frames == 0:
        raise ValueError("GIF: no image descriptor")


def decode_gif_frames(
    data: bytes, max_frames: int = 10000
) -> list[np.ndarray]:
    """All composed animation frames as a list — see iter_gif_frames."""
    return list(iter_gif_frames(data, max_frames))
