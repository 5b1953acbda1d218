"""Pure-NumPy baseline TIFF codec — the canonical scanned-document format.

Implements the TIFF 6.0 baseline slice OCR scan corpora actually use:
little- and big-endian files, multi-strip and tiled (§15) layouts,
single- and multi-page (IFD chains), bilevel (1-bit, both photometric
polarities), 8-bit grayscale (both polarities), 8-bit RGB(A), 16-bit
gray/RGB samples, and 16-bit-valued palette color; compressions none (1),
CCITT MH-RLE (2), G3 in both 1D and 2D modes (3, T4Options-driven),
G4 fax (4) — functions/ccitt.py —
TIFF-flavor LZW (5, MSB-first codes with the early-change rule) with
horizontal-differencing predictor 2, new-style JPEG-in-TIFF (7, each
strip a standalone JFIF stream through functions/jpeg.py) and PackBits
(32773) and Deflate (8 / legacy 32946, zlib-wrapped strips). Old-style
JPEG (6) stays rejected with the reason. The encoder writes little-endian baseline files
(gray/RGB/bilevel, any rows-per-strip, every supported compression)
for round-trip tests.

Spec: TIFF 6.0 (Adobe, 1992) — IFD structure §2, PackBits §9, LZW §13,
predictor §14.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_NONE, _MH_RLE, _G3, _G4, _LZW, _JPEG = 1, 2, 3, 4, 5, 7
_DEFLATE, _DEFLATE_OLD, _PACKBITS = 8, 32946, 32773
_BILEVEL_COMPS = (_MH_RLE, _G3, _G4)

# byte-wise bit reversal LUT for FillOrder=2 (lsb-first) data
_BITREV = np.array(
    [int(f"{i:08b}"[::-1], 2) for i in range(256)], dtype=np.uint8
)


def _reverse_bits(buf: bytes) -> bytes:
    return _BITREV[np.frombuffer(buf, dtype=np.uint8)].tobytes()


# ---------------------------------------------------------------------------
# PackBits (§9)
# ---------------------------------------------------------------------------

def _packbits_encode(row: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, row[i]])
            i += run
            continue
        lit_start = i
        i += 1
        while (
            i < n
            and i - lit_start < 128
            and not (i + 1 < n and row[i] == row[i + 1])
        ):
            i += 1
        out += bytes([i - lit_start - 1]) + row[lit_start:i]
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while len(out) < expected and i < n:
        b = data[i]
        i += 1
        if b == 128:
            continue
        if b < 128:
            out += data[i : i + b + 1]
            i += b + 1
        else:
            out += bytes([data[i]]) * (257 - b)
            i += 1
    if len(out) < expected:
        raise ValueError("TIFF: truncated PackBits strip")
    return bytes(out[:expected])


# ---------------------------------------------------------------------------
# TIFF LZW (§13): MSB-first bit order, 9-bit start, clear 256 / EOI 257,
# EARLY CHANGE — code width grows one code before the table fills
# ---------------------------------------------------------------------------

def _tiff_lzw_encode(data: bytes) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        acc &= (1 << nbits) - 1  # keep the accumulator a small int

    # dictionary keyed on (prefix code, next byte): O(1) per input byte.
    # Byte-string keys go quadratic on smooth data (long matches mean
    # each concat+hash is O(match length)); single-byte strings are the
    # implicit codes 0-255. Emits the identical bitstream.
    table: dict[tuple[int, int], int] = {}
    next_code = 258
    width = 9
    emit(256, width)  # clear
    prev_code = -1
    for byte in data:
        if prev_code < 0:
            prev_code = byte
            continue
        nc = table.get((prev_code, byte))
        if nc is not None:
            prev_code = nc
            continue
        emit(prev_code, width)
        table[(prev_code, byte)] = next_code
        next_code += 1
        # early change (§13): switch as soon as code 2^w - 1 is ADDED
        if next_code == (1 << width) and width < 12:
            width += 1
        elif next_code >= 4094:
            emit(256, width)
            table.clear()
            next_code = 258
            width = 9
        prev_code = byte
    if prev_code >= 0:
        emit(prev_code, width)
    emit(257, width)  # EOI
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    width = 9
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    n = len(data)
    while len(out) < expected:
        while nbits < width:
            if pos >= n:
                raise ValueError("TIFF: truncated LZW strip")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1  # keep the accumulator a small int
        if code == 256:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if code == 257:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("TIFF: LZW code out of range")
        out += entry
        if len(table) == (1 << width) - 1 and width < 12:  # early change
            width += 1
        prev = entry
    if len(out) < expected:
        raise ValueError("TIFF: LZW strip ended early")
    return bytes(out[:expected])


# ---------------------------------------------------------------------------
# encoder (little-endian baseline)
# ---------------------------------------------------------------------------

def encode_tiff(
    img: np.ndarray,
    compression: int = _NONE,
    rows_per_strip: int | None = None,
    predictor: int = 1,
    bilevel: bool = False,
    t4_2d: bool = False,
    fill_order: int = 1,
    tile: int | None = None,
) -> bytes:
    """uint8 (H, W) gray / (H, W, 3) RGB -> little-endian TIFF bytes.
    ``bilevel`` packs a 0/255 grayscale image as 1-bit BlackIsZero rows;
    ``predictor=2`` applies horizontal differencing (LZW/Deflate);
    ``t4_2d`` selects the two-dimensional G3 mode under compression 3
    (declared via T4Options bit 0); ``fill_order=2`` emits lsb-first
    strip bytes with tag 266 (the fax-world convention; bilevel
    none/CCITT only); ``tile`` (a multiple of 16) writes the tiled
    layout (TIFF 6.0 §15, tags 322-325) instead of strips — the form
    large scans use."""
    return b"II*\x00" + struct.pack("<I", 8) + _encode_page(
        img, 8, 0, compression, rows_per_strip, predictor, bilevel,
        t4_2d, fill_order, tile,
    )


def _encode_page(
    img: np.ndarray,
    ifd_off: int,
    next_ifd: int,
    compression: int,
    rows_per_strip: int | None,
    predictor: int,
    bilevel: bool,
    t4_2d: bool,
    fill_order: int,
    tile: int | None = None,
) -> bytes:
    """One page's IFD + data block, with absolute offsets from
    ``ifd_off`` and the next-IFD pointer set to ``next_ifd``."""
    if fill_order not in (1, 2):
        raise ValueError("encode_tiff: fill_order must be 1 or 2")
    if fill_order == 2 and not (
        bilevel and compression in (_NONE, *_BILEVEL_COMPS)
    ):
        raise ValueError(
            "encode_tiff: fill_order=2 requires bilevel none/CCITT"
        )
    deep = np.asarray(img).dtype == np.uint16  # 16-bit samples
    img = np.ascontiguousarray(img, dtype=np.uint16 if deep else np.uint8)
    gray = img.ndim == 2
    if not gray and not (img.ndim == 3 and img.shape[2] == 3):
        raise ValueError("encode_tiff: (H, W) grayscale or (H, W, 3) RGB")
    h, w = img.shape[0], img.shape[1]
    spp = 1 if gray else 3
    if compression in _BILEVEL_COMPS and not bilevel:
        raise ValueError("encode_tiff: CCITT compressions are bilevel-only")
    if deep and (
        bilevel
        or compression not in (_NONE, _LZW, _DEFLATE, _DEFLATE_OLD, _PACKBITS)
    ):
        raise ValueError(
            "encode_tiff: 16-bit samples support none/LZW/Deflate/PackBits "
            "without bilevel"
        )
    if tile is not None:
        # tiled layout (§15): dims must be multiples of 16, which also
        # byte-aligns bilevel tile columns; edges pad to the grid (the
        # decoder crops back to the tagged image size)
        if tile <= 0 or tile % 16:
            raise ValueError(
                "encode_tiff: tile must be a positive multiple of 16"
            )
        if rows_per_strip is not None:
            raise ValueError(
                "encode_tiff: tile and rows_per_strip are exclusive"
            )
        pad_h, pad_w = (-h) % tile, (-w) % tile
        if pad_h or pad_w:
            pad = [(0, pad_h), (0, pad_w)] + ([] if gray else [(0, 0)])
            img = np.pad(img, pad, mode="edge")
    ph, pw = img.shape[0], img.shape[1]
    if bilevel:
        if not gray:
            raise ValueError("encode_tiff: bilevel requires grayscale")
        bits = 1
        if compression in _BILEVEL_COMPS:
            # fax convention: photometric 0 (WhiteIsZero), bit 1 = black
            rows = np.packbits(img <= 127, axis=1)
        else:
            rows = np.packbits(img > 127, axis=1)
    elif deep:
        bits = 16  # little-endian sample bytes, matching the header
        rows = (
            img.reshape(ph, pw * spp).astype("<u2").view(np.uint8)
        )
    else:
        bits = 8
        rows = img.reshape(ph, pw * spp)
    if predictor == 2 and compression not in (_NONE, _LZW, _DEFLATE, _DEFLATE_OLD):
        # TIFF 6.0 defines predictor 2 for LZW/Deflate; under lossy JPEG
        # it would accumulate quantization error row over row
        raise ValueError(
            "encode_tiff: predictor 2 requires none/LZW/Deflate compression"
        )
    def encode_chunk(chunk: np.ndarray, px_w: int) -> bytes:
        """One strip or tile of packed rows -> compressed payload."""
        if predictor == 2:
            if bits == 8:
                d = chunk.reshape(chunk.shape[0], -1, spp).astype(np.int16)
                d[:, 1:] -= d[:, :-1].copy()
                chunk = (
                    (d % 256).astype(np.uint8).reshape(chunk.shape[0], -1)
                )
            elif bits == 16:
                # §14 differencing is per SAMPLE value, not per byte
                v = chunk.view("<u2").reshape(chunk.shape[0], -1, spp)
                d = v.astype(np.int32)
                d[:, 1:] -= d[:, :-1].copy()
                chunk = (
                    (d % 65536).astype("<u2").view(np.uint8)
                    .reshape(chunk.shape[0], -1)
                )
            else:
                raise ValueError(
                    "encode_tiff: predictor needs 8/16-bit samples"
                )
        raw = chunk.tobytes()
        if compression == _PACKBITS:
            payload = b"".join(
                _packbits_encode(r.tobytes()) for r in chunk
            )
        elif compression == _LZW:
            payload = _tiff_lzw_encode(raw)
        elif compression in _BILEVEL_COMPS:
            from granulate_char_ocr_spark.functions import ccitt

            black = np.unpackbits(chunk, axis=1)[:, :px_w].astype(bool)
            if compression == _G4:
                payload = ccitt.encode_g4(black)
            elif compression == _G3 and t4_2d:
                payload = ccitt.encode_g3_2d(black)
            else:
                payload = ccitt.encode_mh(
                    black, "rle" if compression == _MH_RLE else "g3"
                )
        elif compression == _JPEG:
            from granulate_char_ocr_spark.functions.jpeg import encode_jpeg

            plane = (
                chunk.reshape(chunk.shape[0], -1)
                if spp == 1
                else chunk.reshape(chunk.shape[0], -1, spp)
            )
            payload = encode_jpeg(plane, quality=95, subsampling="4:4:4")
        elif compression in (_DEFLATE, _DEFLATE_OLD):
            payload = zlib.compress(raw, 6)
        elif compression == _NONE:
            payload = raw
        else:
            raise ValueError(f"encode_tiff: compression {compression}")
        if fill_order == 2:
            payload = _reverse_bits(payload)
        return payload

    rps = rows_per_strip or h
    strips = []
    if tile is not None:
        tcb = tile * bits * spp // 8  # tile column bytes (16 | tile)
        for ty in range(ph // tile):
            for tx in range(pw // tile):
                strips.append(
                    encode_chunk(
                        np.ascontiguousarray(
                            rows[
                                ty * tile : (ty + 1) * tile,
                                tx * tcb : (tx + 1) * tcb,
                            ]
                        ),
                        tile,
                    )
                )
    else:
        for y0 in range(0, h, rps):
            strips.append(encode_chunk(rows[y0 : y0 + rps], w))

    entries = []  # (tag, type, count, value)
    def entry(tag, typ, count, value):
        entries.append((tag, typ, count, value))

    # layout: header(8) IFD region, then data region
    n_strips = len(strips)
    # IFD entry count depends on optional tag presence (tiled layout
    # swaps 273/278/279 for 322/323/324/325: one extra entry)
    tags_n = (
        (12 if tile is not None else 11)
        + (1 if predictor == 2 else 0)
        + (1 if compression == _G3 else 0)
        + (1 if fill_order == 2 else 0)
    )
    ifd_size = 2 + tags_n * 12 + 4
    data_off = ifd_off + ifd_size
    extra = bytearray()

    def place(payload: bytes) -> int:
        off = data_off + len(extra)
        extra.extend(payload)
        if len(extra) & 1:
            extra.append(0)
        return off

    strip_offsets = []
    for s in strips:
        strip_offsets.append(place(s))
    counts = [len(s) for s in strips]

    def arr_value(values, typ):
        size = {3: 2, 4: 4}[typ]
        packed = b"".join(
            struct.pack("<H" if typ == 3 else "<I", v) for v in values
        )
        if len(packed) <= 4:
            return packed + b"\x00" * (4 - len(packed))
        return struct.pack("<I", place(packed))

    entry(256, 4, 1, struct.pack("<I", w))
    entry(257, 4, 1, struct.pack("<I", h))
    entry(258, 3, spp, arr_value([bits] * spp, 3))
    entry(259, 3, 1, struct.pack("<HH", compression, 0))
    photometric = 2 if spp == 3 else (
        0 if compression in _BILEVEL_COMPS else 1
    )
    entry(262, 3, 1, struct.pack("<HH", photometric, 0))
    if fill_order == 2:
        entry(266, 3, 1, struct.pack("<HH", 2, 0))
    if compression == _G3:
        # T4Options: bit 0 = 2D coding, no EOL byte-alignment
        entry(292, 4, 1, struct.pack("<I", 1 if t4_2d else 0))
    if tile is not None:
        entry(322, 4, 1, struct.pack("<I", tile))
        entry(323, 4, 1, struct.pack("<I", tile))
        entry(324, 4, n_strips, arr_value(strip_offsets, 4))
        entry(325, 4, n_strips, arr_value(counts, 4))
    else:
        entry(273, 4, n_strips, arr_value(strip_offsets, 4))
        entry(278, 4, 1, struct.pack("<I", rps))
        entry(279, 4, n_strips, arr_value(counts, 4))
    entry(277, 3, 1, struct.pack("<HH", spp, 0))
    entry(282, 3, 1, struct.pack("<HH", 72, 0))  # XResolution (short-cheat)
    entry(283, 3, 1, struct.pack("<HH", 72, 0))
    if predictor == 2:
        entry(317, 3, 1, struct.pack("<HH", 2, 0))
    entries.sort(key=lambda e: e[0])
    ifd = struct.pack("<H", tags_n)
    for (tag, typ, count, value) in entries:
        ifd += struct.pack("<HHI", tag, typ, count) + value
    ifd += struct.pack("<I", next_ifd)
    assert len(ifd) == ifd_size
    return ifd + bytes(extra)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def _tiff_end(data: bytes) -> str:
    if data[:2] == b"II":
        end = "<"
    elif data[:2] == b"MM":
        end = ">"
    else:
        raise ValueError("TIFF: bad byte-order signature")
    (magic,) = struct.unpack(end + "H", data[2:4])
    if magic != 42:
        raise ValueError("TIFF: bad magic")
    return end


def decode_tiff(data: bytes, scale_16bit: bool = True) -> np.ndarray:
    """TIFF bytes -> uint8 (H, W) grayscale (bilevel scales to 0/255,
    WhiteIsZero inverts) or (H, W, 3/4) RGB(A) / palette-expanded.
    Multi-page files decode their FIRST page only; use
    ``decode_tiff_pages`` for the whole IFD chain."""
    end = _tiff_end(data)
    (ifd_off,) = struct.unpack(end + "I", data[4:8])
    img, _ = _decode_ifd(data, end, ifd_off, scale_16bit)
    return img


def decode_tiff_pages(
    data: bytes, max_pages: int = 10000, scale_16bit: bool = True
) -> list[np.ndarray]:
    """Every page of a (multi-page) TIFF — the fax/scanned-document
    convention of one IFD per page chained by the next-IFD pointer.
    The chain is cycle-checked and capped so corrupt pointers terminate
    instead of looping."""
    end = _tiff_end(data)
    (off,) = struct.unpack(end + "I", data[4:8])
    pages: list[np.ndarray] = []
    seen: set[int] = set()
    while off:
        if off in seen:
            raise ValueError("TIFF: IFD chain cycle")
        if len(pages) >= max_pages:
            raise ValueError("TIFF: IFD chain exceeds max_pages")
        seen.add(off)
        img, off = _decode_ifd(data, end, off, scale_16bit)
        pages.append(img)
    if not pages:
        raise ValueError("TIFF: empty IFD chain")
    return pages


def _decode_ifd(
    data: bytes, end: str, ifd_off: int, scale_16bit: bool = True
) -> tuple[np.ndarray, int]:
    """Decode the page at ``ifd_off``; returns (image, next-IFD offset)."""
    (n_tags,) = struct.unpack(end + "H", data[ifd_off : ifd_off + 2])
    tags: dict[int, list[int]] = {}
    type_size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
    type_fmt = {1: "B", 3: "H", 4: "I"}
    for i in range(n_tags):
        e = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack(end + "HHI", data[e : e + 8])
        if typ not in type_fmt:
            continue  # rationals etc. — not needed
        size = type_size[typ] * count
        if size > len(data):
            continue  # corrupt count: payload can't fit in the file
        if size <= 4:
            raw = data[e + 8 : e + 8 + size]
        else:
            (off,) = struct.unpack(end + "I", data[e + 8 : e + 12])
            raw = data[off : off + size]
        tags[tag] = list(
            struct.unpack(end + type_fmt[typ] * count, raw)
        )
    nxt_at = ifd_off + 2 + 12 * n_tags
    nxt_raw = data[nxt_at : nxt_at + 4]
    next_ifd = struct.unpack(end + "I", nxt_raw)[0] if len(nxt_raw) == 4 else 0

    def one(tag, default=None):
        if tag in tags:
            return tags[tag][0]
        if default is None:
            raise ValueError(f"TIFF: missing required tag {tag}")
        return default

    w, h = one(256), one(257)
    spp = one(277, 1)
    # plausibility gate BEFORE any dimension-sized allocation: the fields
    # are 32-bit, so one flipped byte in a corrupt file can declare a
    # ~100 GB image — at scale that pins an executor in an hours-long
    # C-level memset the permissive wrapper can't interrupt. A gigapixel
    # cap is far beyond any real scanned page.
    if not (0 < w <= 1 << 20 and 0 < h <= 1 << 20 and w * h * spp <= 1 << 30):
        raise ValueError(f"TIFF: implausible dimensions {w}x{h}x{spp}")
    bits_list = tags.get(258, [1])
    bits = bits_list[0]
    comp = one(259, _NONE)
    photo = one(262, 1)
    predictor = one(317, 1)
    rps = one(278, h)
    tiled = 322 in tags or 324 in tags
    if tiled:
        offsets = tags.get(324)
        counts = tags.get(325)
        if offsets is None or counts is None:
            raise ValueError("TIFF: missing tile offsets/counts")
    else:
        offsets = tags.get(273)
        counts = tags.get(279)
        if offsets is None or counts is None:
            raise ValueError("TIFF: missing strip offsets/counts")
    if comp not in (
        _NONE, _MH_RLE, _G3, _G4, _LZW, _JPEG, _DEFLATE, _DEFLATE_OLD,
        _PACKBITS,
    ):
        raise ValueError(
            f"TIFF: compression {comp} unsupported "
            "(none/MH-RLE/G3-1D/G4/LZW/JPEG/Deflate/PackBits only; "
            "old-style JPEG (6) needs its own handling)"
        )
    if bits not in (1, 8, 16) or any(b != bits for b in bits_list):
        raise ValueError(
            f"TIFF: {bits_list}-bit samples unsupported (1/8/16)"
        )
    if bits == 1 and spp != 1:
        raise ValueError("TIFF: bilevel must be single-sample")
    if comp in _BILEVEL_COMPS and bits != 1:
        raise ValueError("TIFF: CCITT compressions require bilevel samples")
    if bits == 16 and (
        comp not in (_NONE, _LZW, _DEFLATE, _DEFLATE_OLD, _PACKBITS)
        or photo == 3
    ):
        raise ValueError(
            "TIFF: 16-bit samples support none/LZW/Deflate/PackBits "
            "without palette"
        )
    # reject-with-reason for layout variants this decoder would otherwise
    # silently scramble (ADVICE r3): planar-separated samples (tag 284=2)
    if one(284, 1) != 1:
        raise ValueError("TIFF: PlanarConfiguration=2 (planar) unsupported")
    fill_order = one(266, 1)
    if fill_order not in (1, 2):
        raise ValueError(f"TIFF: FillOrder {fill_order} invalid")
    if fill_order == 2 and not (
        bits == 1 and comp in (_NONE, _MH_RLE, _G3, _G4)
    ):
        # lsb-first fill is a FAX-WORLD convention (r4): supported where
        # it actually occurs — bilevel uncompressed and CCITT streams —
        # and rejected elsewhere rather than silently scrambling
        raise ValueError(
            "TIFF: FillOrder=2 supported only for bilevel none/CCITT"
        )

    row_bytes = (w * bits * spp + 7) // 8

    def decode_chunk(chunk: bytes, px_w: int, n_rows: int, rb: int):
        """One strip or tile -> (n_rows, rb) uint8 packed rows."""
        expected = n_rows * rb
        if fill_order == 2 and comp in (_MH_RLE, _G3, _G4):
            chunk = _reverse_bits(chunk)  # lsb-first entropy stream
        if comp == _PACKBITS:
            raw = _packbits_decode(chunk, expected)
        elif comp == _LZW:
            raw = _tiff_lzw_decode(chunk, expected)
        elif comp in _BILEVEL_COMPS:
            from granulate_char_ocr_spark.functions import ccitt

            if comp == _G4:
                black = ccitt.decode_g4(chunk, px_w, n_rows)
            elif comp == _G3 and one(292, 0) & 1:
                black = ccitt.decode_g3_2d(chunk, px_w, n_rows)
            else:
                black = ccitt.decode_mh(
                    chunk, px_w, n_rows, "rle" if comp == _MH_RLE else "g3"
                )
            raw = np.packbits(black, axis=1).tobytes()
        elif comp in (_DEFLATE, _DEFLATE_OLD):
            try:
                # bounded inflate: a zlib bomb must not expand past the
                # declared strip size (same executor-pinning class as the
                # dimension plausibility gates)
                raw = zlib.decompressobj().decompress(chunk, expected)
            except zlib.error as e:
                raise ValueError(f"TIFF: bad Deflate strip ({e})") from None
            if len(raw) < expected:
                raise ValueError("TIFF: truncated Deflate strip")
        elif comp == _JPEG:
            from granulate_char_ocr_spark.functions.jpeg import decode_jpeg

            plane = decode_jpeg(chunk)
            if (plane.ndim == 3) != (spp == 3):
                raise ValueError("TIFF: JPEG strip component mismatch")
            raw = plane.tobytes()
        else:
            if len(chunk) < expected:
                raise ValueError("TIFF: truncated strip")
            raw = chunk[:expected]
            if fill_order == 2:
                raw = _reverse_bits(raw)  # lsb-first packed pixels
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(n_rows, rb)
        if predictor == 2:
            if bits == 8:
                s = arr.reshape(n_rows, -1, spp)
                arr = np.cumsum(s, axis=1, dtype=np.uint8).reshape(
                    n_rows, rb
                )
            elif bits == 16:
                v = np.frombuffer(arr.tobytes(), dtype=end + "u2").reshape(
                    n_rows, -1, spp
                )
                acc = np.cumsum(v, axis=1, dtype=np.uint16)
                arr = np.frombuffer(
                    acc.astype(end + "u2").tobytes(), dtype=np.uint8
                ).reshape(n_rows, rb)
            else:
                raise ValueError("TIFF: predictor on non-8/16-bit samples")
        return arr

    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    if tiled:
        # TIFF 6.0 §15: the image is a grid of equal tiles, every tile a
        # full independently-compressed block, edges padded; dims must be
        # multiples of 16 (which also byte-aligns bilevel tile columns)
        tile_w, tile_h = one(322), one(323)
        if (
            tile_w <= 0 or tile_h <= 0 or tile_w % 16 or tile_h % 16
            or tile_w * tile_h > 1 << 26
        ):
            raise ValueError(
                f"TIFF: tile size {tile_w}x{tile_h} invalid "
                "(positive multiples of 16, bounded)"
            )
        across = (w + tile_w - 1) // tile_w
        down = (h + tile_h - 1) // tile_h
        # amplification gate: a tiny image declaring huge tiles would
        # allocate/decompress the full tile grid before cropping — bound
        # the padded grid area relative to the declared image
        if across * tile_w * down * tile_h > max(4 * w * h, 1 << 22):
            raise ValueError(
                f"TIFF: tile grid {across * tile_w}x{down * tile_h} "
                f"implausibly exceeds image {w}x{h}"
            )
        if len(offsets) < across * down or len(counts) < across * down:
            raise ValueError("TIFF: tile count mismatch")
        trb = (tile_w * bits * spp + 7) // 8
        for i in range(across * down):
            ty, tx = divmod(i, across)
            tile = decode_chunk(
                data[offsets[i] : offsets[i] + counts[i]],
                tile_w, tile_h, trb,
            )
            y0 = ty * tile_h
            x0 = tx * tile_w * bits * spp // 8
            hh = min(tile_h, h - y0)
            wb = min(trb, row_bytes - x0)
            rows[y0 : y0 + hh, x0 : x0 + wb] = tile[:hh, :wb]
    else:
        y = 0
        for off, cnt in zip(offsets, counts):
            n_rows = min(rps, h - y)
            rows[y : y + n_rows] = decode_chunk(
                data[off : off + cnt], w, n_rows, row_bytes
            )
            y += n_rows
        if y < h:
            raise ValueError("TIFF: strips cover fewer rows than ImageLength")

    if photo == 3:  # palette: 16-bit colormap, R then G then B planes
        cmap = tags.get(320)
        if cmap is None:
            raise ValueError("TIFF: palette image without ColorMap")
        n = len(cmap) // 3
        pal = (
            np.array(cmap, dtype=np.uint16).reshape(3, n).T >> 8
        ).astype(np.uint8)
        # palette indices may themselves be 1-bit (2-entry colormap)
        idx = (
            np.unpackbits(rows, axis=1)[:, :w] if bits == 1 else rows[:, :w]
        )
        if int(idx.max(initial=0)) >= n:
            raise ValueError("TIFF: palette index out of range")
        return pal[idx], next_ifd
    if bits == 1:
        px = np.unpackbits(rows, axis=1)[:, :w] * np.uint8(255)
        return np.ascontiguousarray(
            px if photo == 1 else 255 - px  # photometric 0: white-is-zero
        ), next_ifd
    if bits == 16:
        samples = np.frombuffer(
            rows.tobytes(), dtype=end + "u2"
        ).reshape(h, (row_bytes // 2 // spp), spp)[:, :w, :]
        if photo == 0:
            samples = np.uint16(0xFFFF) - samples
        if scale_16bit:  # match decode_png's default: high byte -> uint8
            samples = (samples >> 8).astype(np.uint8)
        out = samples[..., 0] if spp == 1 else samples
        return np.ascontiguousarray(out), next_ifd
    if spp == 1:
        gray = rows[:, :w]
        return np.ascontiguousarray(
            gray if photo == 1 else 255 - gray
        ), next_ifd
    px = rows.reshape(h, row_bytes // spp, spp)[:, :w, :]
    return np.ascontiguousarray(px), next_ifd
