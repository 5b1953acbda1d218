"""GIF codec round-trips (LZW, interlace, transparency) + the sniffing
multimodal decode path and mixed-corpus scan."""

import numpy as np
import pytest

from granulate_char_ocr_spark.functions import kernels
from granulate_char_ocr_spark.functions.gif import decode_gif, encode_gif
from granulate_char_ocr_spark.sources.synthetic import render_word


@pytest.mark.parametrize("npal", [2, 4, 16, 256])
@pytest.mark.parametrize("interlace", [False, True])
def test_roundtrip_palette_sizes(npal, interlace):
    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, (npal, 3), dtype=np.uint8)
    idx = rng.integers(0, npal, (23, 37), dtype=np.uint8)
    got = decode_gif(encode_gif(idx, pal, interlace=interlace))
    assert np.array_equal(got, pal[idx])


def test_transparency_yields_rgba():
    rng = np.random.default_rng(1)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, (12, 12), dtype=np.uint8)
    got = decode_gif(encode_gif(idx, pal, transparent=3))
    assert got.shape == (12, 12, 4)
    assert np.array_equal(got[..., :3], pal[idx])
    assert np.array_equal(got[..., 3], np.where(idx == 3, 0, 255))


def test_lzw_table_overflow_and_deep_strings():
    """256-color noise at 200x300 forces code-width growth to 12 bits and
    table resets; tiled ramps force deep dictionary strings."""
    rng = np.random.default_rng(7)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    noise = rng.integers(0, 256, (200, 300), dtype=np.uint8)
    assert np.array_equal(decode_gif(encode_gif(noise, pal)), pal[noise])
    ramps = np.tile(np.arange(256, dtype=np.uint8), (100, 4))[:100, :300]
    assert np.array_equal(decode_gif(encode_gif(ramps, pal)), pal[ramps])


def test_rejects_garbage():
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"not a gif")
    with pytest.raises(ValueError, match="GIF"):
        decode_gif(b"GIF89a" + bytes(20))


def test_glyph_through_gif_sniff_decode(spark):
    """A 2-color GIF glyph decodes through decode_payload('auto') to the
    exact source plane (GIF is lossless), so recognition is identical."""
    from granulate_char_ocr_spark.operators.multimodal import decode_payload

    glyph = render_word("TEAM", 1)  # values 0/255
    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    idx = (glyph > 0).astype(np.uint8)
    payload = encode_gif(idx, pal, interlace=True)
    gray = decode_payload(payload, "auto", 0, 0)
    # luma of a (v,v,v) palette entry is v exactly
    assert np.array_equal(gray, glyph)
    chars = kernels.recognize_word(gray)
    assert "".join(c["latin"] for c in chars) == "TEAM"


def test_mixed_corpus_scan_with_gif(spark, tmp_path):
    """PNG + JPEG + GIF files in one directory, all sniffed and
    recognized end-to-end through the image-corpus source."""
    from pyspark.sql import functions as F

    from granulate_char_ocr_spark.functions.jpeg import encode_jpeg
    from granulate_char_ocr_spark.functions.png import encode_png
    from granulate_char_ocr_spark.operators.extract import extract_media_spans
    from granulate_char_ocr_spark.sources.binary_files import read_image_corpus

    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    g = render_word("US", 2)
    (tmp_path / "TEAM_1.png").write_bytes(encode_png(render_word("TEAM", 0)))
    (tmp_path / "WORK_2.jpg").write_bytes(
        encode_jpeg(render_word("WORK", 1), quality=95)
    )
    (tmp_path / "US_3.gif").write_bytes(
        encode_gif((g > 0).astype(np.uint8), pal)
    )
    corpus = read_image_corpus(spark, str(tmp_path / "*"))
    rec = extract_media_spans(
        corpus.select(
            corpus.path.alias("doc_id"),
            corpus.path.alias("media_ref"),
            "width",
            "height",
            "pixels",
        ).withColumn("offset", F.lit(0)),
        detail=False,
    )
    got = {r["media_ref"].rsplit("/", 1)[-1]: r["text"] for r in rec.collect()}
    assert got == {"TEAM_1.png": "TEAM", "WORK_2.jpg": "WORK", "US_3.gif": "US"}


def test_subrectangle_frame_composes_onto_canvas():
    """Review fix: a frame covering a sub-rectangle of the logical screen
    (optimizer output) must compose onto the background-filled canvas,
    not return the bare sub-rectangle."""
    import struct

    from granulate_char_ocr_spark.functions.gif import (
        _lzw_encode, _subblocks)

    pal = np.array([[10, 20, 30], [200, 210, 220]], dtype=np.uint8)
    inner = np.ones((2, 3), dtype=np.uint8)
    header = b"GIF89a" + struct.pack("<HHBBB", 6, 5, 0x80, 0, 0)
    gct = np.vstack([pal, np.zeros((0, 3), np.uint8)]).tobytes()
    img = (
        struct.pack("<BHHHHB", 0x2C, 2, 1, 3, 2, 0)  # left=2 top=1 3x2
        + bytes([2])
        + _subblocks(_lzw_encode(inner, 2))
    )
    out = decode_gif(header + gct + img + b"\x3b")
    assert out.shape == (5, 6, 3)
    want = np.tile(pal[0], (5, 6, 1))
    want[1:3, 2:5] = pal[1]
    assert np.array_equal(out, want)


def test_lzw_deferred_clear_codes():
    """ADVICE r3: optimizer-style streams freeze the table at 4096 instead
    of emitting a clear — the decoder must stop defining entries too
    (codes stay 12-bit until a clear) and still decode exactly."""
    from granulate_char_ocr_spark.functions.gif import _lzw_decode

    def encode_deferred(indices, min_code_size):
        # _lzw_encode with the re-CLEAR-on-overflow branch replaced by a
        # frozen table (deferred clear), as GIF optimizers emit
        clear = 1 << min_code_size
        eoi = clear + 1
        out = bytearray()
        acc = nbits = 0

        def emit(code, width):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        table = {bytes([i]): i for i in range(clear)}
        next_code = eoi + 1
        width = min_code_size + 1
        emit(clear, width)
        prev = b""
        for v in indices.reshape(-1).tolist():
            cur = prev + bytes([v])
            if cur in table:
                prev = cur
                continue
            emit(table[prev], width)
            if next_code < 4096:
                table[cur] = next_code
                next_code += 1
                if next_code == (1 << width) + 1 and width < 12:
                    width += 1
            prev = bytes([v])
        if prev:
            emit(table[prev], width)
        emit(eoi, width)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    rng = np.random.default_rng(3)
    data = rng.integers(0, 256, 30000, dtype=np.uint8)  # fills the table fast
    got = _lzw_decode(encode_deferred(data, 8), 8, data.size)
    assert np.array_equal(got, data)


def test_gif_animation_roundtrip():
    """Multi-frame GIF89a: per-frame GCE + full-size frames round-trip
    through the composed-sequence decoder; decode_gif stays first-frame."""
    from granulate_char_ocr_spark.functions.gif import (
        decode_gif,
        decode_gif_frames,
        encode_gif,
    )
    from encoders import encode_gif_frames

    rng = np.random.default_rng(8)
    pal = np.stack([np.arange(16) * 17] * 3, axis=1).astype(np.uint8)
    frames = [rng.integers(0, 16, (24, 31)).astype(np.uint8) for _ in range(5)]
    data = encode_gif_frames(frames, pal)
    got = decode_gif_frames(data)
    assert len(got) == 5
    for f, g in zip(frames, got):
        assert np.array_equal(g, pal[f])
    assert np.array_equal(decode_gif(data), pal[frames[0]])
    # a plain single-frame file is a 1-frame animation
    assert len(decode_gif_frames(encode_gif(frames[0], pal))) == 1


def test_gif_animation_transparency_is_compositing_hole():
    """In animation composition a transparent index keeps the underlying
    canvas pixel (it is NOT an alpha channel on the output frame)."""
    from granulate_char_ocr_spark.functions.gif import decode_gif_frames
    from encoders import encode_gif_frames

    pal = np.stack([np.arange(16) * 17] * 3, axis=1).astype(np.uint8)
    f0 = np.zeros((10, 10), np.uint8)
    f1 = np.full((10, 10), 3, np.uint8)
    f1[2:5, 2:5] = 7
    seq = decode_gif_frames(encode_gif_frames([f0, f1], pal, transparent=7))
    assert seq[1].shape == (10, 10, 3)
    assert np.array_equal(seq[1][3, 3], pal[0])  # hole shows frame 0
    assert np.array_equal(seq[1][0, 0], pal[3])


def test_gif_animation_disposal_methods():
    """Hand-built streams: disposal 2 restores the frame region to the
    background color, disposal 3 restores the pre-frame canvas."""
    import struct

    from granulate_char_ocr_spark.functions.gif import (
        _lzw_encode,
        _subblocks,
        decode_gif_frames,
    )

    pal = np.stack([np.arange(4) * 80] * 3, axis=1).astype(np.uint8)
    gct = np.zeros((4, 3), np.uint8)
    gct[: len(pal)] = pal

    def frame_block(idx, left, top, disposal):
        h, w = idx.shape
        gce = b"\x21\xf9\x04" + struct.pack(
            "<BHB", (disposal << 2), 1, 0
        ) + b"\x00"
        desc = struct.pack("<BHHHHB", 0x2C, left, top, w, h, 0)
        return gce + desc + bytes([2]) + _subblocks(_lzw_encode(idx, 2))

    header = b"GIF89a" + struct.pack("<HHBBB", 6, 6, 0x80 | 0x01, 1, 0)
    base = np.zeros((6, 6), np.uint8)
    patch = np.full((2, 2), 3, np.uint8)
    data = (
        header + gct.tobytes()
        + frame_block(base, 0, 0, 1)      # leave in place
        + frame_block(patch, 2, 2, 2)     # then restore region to bg (1)
        + frame_block(patch, 0, 0, 3)     # then restore previous canvas
        + frame_block(base, 0, 0, 1)
        + b"\x3b"
    )
    seq = decode_gif_frames(data)
    assert len(seq) == 4
    assert np.array_equal(seq[1][3, 3], pal[3])  # patch visible
    # after disposal 2, the patch region shows the BACKGROUND color (1)
    assert np.array_equal(seq[2][3, 3], pal[1])
    assert np.array_equal(seq[2][1, 1], pal[3])  # frame 3's own patch
    # after disposal 3, frame 4 paints over the RESTORED canvas
    assert np.array_equal(seq[3], pal[base])


def test_gif_gce_survives_interleaved_extensions():
    """Review fix: a comment/application extension between a GCE and its
    image descriptor must not clobber the pending transparency/disposal
    (the GCE applies to the NEXT graphic block)."""
    import struct

    from granulate_char_ocr_spark.functions.gif import (
        _lzw_encode,
        _subblocks,
        decode_gif,
        decode_gif_frames,
    )

    pal = np.stack([np.arange(16) * 17] * 3, axis=1).astype(np.uint8)
    gct = np.zeros((16, 3), np.uint8)
    gct[:] = pal
    f0 = np.zeros((6, 6), np.uint8)
    f1 = np.full((6, 6), 3, np.uint8)
    f1[2:4, 2:4] = 7  # transparent index
    header = b"GIF89a" + struct.pack("<HHBBB", 6, 6, 0x80 | 0x03, 0, 0)
    comment = b"\x21\xfe" + bytes([5]) + b"hello" + b"\x00"

    def img_block(idx):
        return (
            struct.pack("<BHHHHB", 0x2C, 0, 0, 6, 6, 0)
            + bytes([4])
            + _subblocks(_lzw_encode(idx, 4))
        )

    gce = b"\x21\xf9\x04" + struct.pack("<BHB", 0x01, 1, 7) + b"\x00"
    data = (
        header + gct.tobytes()
        + img_block(f0)
        + gce + comment + img_block(f1)  # comment BETWEEN gce and image
        + b"\x3b"
    )
    seq = decode_gif_frames(data)
    assert np.array_equal(seq[1][2, 2], pal[0])  # hole shows frame 0
    assert np.array_equal(seq[1][0, 0], pal[3])
    # decode_gif (first frame) unaffected
    assert decode_gif(data).shape == (6, 6, 3)


def test_gif_implausible_screen_rejected():
    """Review fix: a corrupt logical-screen descriptor declaring a
    gigapixel canvas must reject before allocation."""
    import struct

    from granulate_char_ocr_spark.functions.gif import decode_gif_frames

    data = b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0) + b"\x3b"
    with pytest.raises(ValueError, match="implausible"):
        decode_gif_frames(data)


def test_gif_frame_iterator_matches_list():
    """Review fix: iter_gif_frames streams one canvas at a time; the
    list wrapper is exactly equal."""
    from granulate_char_ocr_spark.functions.gif import (
        decode_gif_frames,
        iter_gif_frames,
    )
    from encoders import encode_gif_frames

    pal = np.stack([np.arange(8) * 32] * 3, axis=1).astype(np.uint8)
    frames = [np.full((9, 7), i % 8, np.uint8) for i in range(4)]
    data = encode_gif_frames(frames, pal)
    streamed = [f.copy() for f in iter_gif_frames(data)]
    listed = decode_gif_frames(data)
    assert len(streamed) == len(listed) == 4
    assert all(np.array_equal(a, b) for a, b in zip(streamed, listed))
