"""Deterministic corruption fuzz over every image decoder.

A corrupt or truncated file must fail FAST with an exception (or decode
to some image) — never hang, loop unboundedly, or crash the interpreter.
At 100 TB an executor pinned by one malformed file is strictly worse
than a clean decode_error row: the permissive mapInPandas wrapper
(operators/multimodal.py, the ``except Exception`` arm) converts any
decoder exception into a null-payload row, so exception TYPE is free but
termination is the contract this test pins. Each decode call carries a
wall-clock budget to catch accidental quadratic/unbounded behavior on
adversarial bitstreams (the failure mode fixed for TIFF-LZW's unmasked
accumulator on valid-but-smooth input).
"""

from __future__ import annotations

import time

import numpy as np
import pytest
from encoders import (
    encode_gif_frames,
    encode_jpeg_progressive,
    encode_pdf_pages,
    encode_tiff_multipage,
)

from granulate_char_ocr_spark.functions import bmp, gif, jpeg, png, tiff
from granulate_char_ocr_spark.operators.multimodal import decode_payload

_PER_CALL_BUDGET_S = 5.0  # generous: valid decodes here are ~1 ms


def _gray(seed: int = 0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    smooth = (np.cumsum(rng.integers(-2, 3, (32, 48)), axis=1) % 256)
    return smooth.astype(np.uint8)


def _palette() -> np.ndarray:
    return np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)


def _encoders() -> list[tuple[str, bytes]]:
    img = _gray()
    bil = (img > 128).astype(np.uint8) * 255
    out = [
        ("png_f0", png.encode_png(img)),
        ("png_paeth", png.encode_png(img, filter_type=4)),
        ("png_adam7", png.encode_png(img, filter_type=1, interlace=1)),
        ("gif", gif.encode_gif(img, _palette())),
        ("bmp", bmp.encode_bmp(img)),
        ("jpeg", jpeg.encode_jpeg(img)),
        ("jpeg_prog", encode_jpeg_progressive(img)),
        ("tiff_none", tiff.encode_tiff(img, compression=1)),
        ("tiff_packbits", tiff.encode_tiff(img, compression=32773)),
        ("tiff_lzw", tiff.encode_tiff(img, compression=5)),
        ("tiff_deflate", tiff.encode_tiff(img, compression=8, predictor=2)),
        ("tiff_g4", tiff.encode_tiff(bil, compression=4, bilevel=True)),
        ("tiff_g3_2d", tiff.encode_tiff(bil, compression=3, bilevel=True,
                                        t4_2d=True)),
        ("tiff_tiled", tiff.encode_tiff(img, compression=5, tile=16)),
        ("tiff_16bit", tiff.encode_tiff(
            (img.astype(np.uint16) << 8) | 7, compression=8)),
        ("tiff_mh_rle", tiff.encode_tiff(bil, compression=2, bilevel=True)),
    ]
    return out


def _mutations(data: bytes, seed: int) -> list[bytes]:
    """Deterministic corruptions: truncations, byte flips spread through
    the stream (header, tables, and entropy regions all get hit), and a
    few multi-byte stomps."""
    rng = np.random.default_rng(seed)
    n = len(data)
    muts: list[bytes] = [data[: n // 4], data[: n // 2], data[: 3 * n // 4],
                         data[:-1], b""]
    for pos in np.linspace(0, n - 1, 24, dtype=int):
        b = bytearray(data)
        b[pos] ^= int(rng.integers(1, 256))
        muts.append(bytes(b))
    for _ in range(8):
        b = bytearray(data)
        start = int(rng.integers(0, max(1, n - 8)))
        b[start : start + 8] = rng.integers(0, 256, 8, dtype=np.uint8).tobytes()
        muts.append(bytes(b))
    return muts


@pytest.mark.parametrize("name,data", _encoders(), ids=lambda v: v if
                         isinstance(v, str) else "")
def test_decoder_terminates_on_corrupt_input(name, data):
    import zlib

    for i, mut in enumerate(_mutations(data, seed=zlib.crc32(name.encode()))):
        t0 = time.perf_counter()
        try:
            out = decode_payload(mut, "auto", 48, 32)
            assert isinstance(out, np.ndarray)
        except Exception:
            pass  # clean failure — the permissive wrapper absorbs it
        dt = time.perf_counter() - t0
        assert dt < _PER_CALL_BUDGET_S, (
            f"{name} mutation {i}: decode took {dt:.1f}s on corrupt input"
        )


def _container_cases():
    from granulate_char_ocr_spark.functions import avi, pdf, tiff, wav

    pcm = (np.sin(np.linspace(0, 200, 16000)) * 12000).astype(np.int16)
    frame = np.full((32, 48), 200, np.uint8)
    return [
        ("tiff_multipage",
         encode_tiff_multipage([frame, frame // 2], compression=5),
         tiff.decode_tiff_pages),
        ("wav", wav.encode_wav(pcm, 16000), wav.decode_wav),
        ("wav_ulaw", wav.encode_wav(pcm, 8000, codec="ulaw"),
         wav.decode_wav),
        ("wav_ima", wav.encode_wav(pcm, 8000, codec="ima"),
         wav.decode_wav),
        ("avi", avi.encode_avi_mjpeg([frame, frame // 2], 10),
         avi.avi_info),
        ("pdf14", pdf.encode_pdf(["Hello fuzz world " * 40] * 3),
         pdf.decode_pdf_text),
        ("pdf15", pdf.encode_pdf(["Object stream page " * 40] * 3,
                                 object_streams=True), pdf.decode_pdf_text),
        ("gif_anim",
         encode_gif_frames(
             [np.full((16, 16), i % 4, np.uint8) for i in range(3)],
             np.stack([np.arange(4) * 80] * 3, axis=1).astype(np.uint8),
         ),
         gif.decode_gif_frames),
        ("pdf_multipage",
         encode_pdf_pages([["pg one text"], ["pg two text"],
                           ["pg three"]], object_streams=True),
         pdf.decode_pdf_text_pages),
    ]


@pytest.mark.parametrize("name,data,dec", _container_cases(),
                         ids=lambda v: v if isinstance(v, str) else "")
def test_container_parser_terminates_on_corrupt_input(name, data, dec):
    import zlib

    for i, mut in enumerate(_mutations(data, seed=zlib.crc32(name.encode()))):
        t0 = time.perf_counter()
        try:
            dec(mut)
        except Exception:
            pass
        dt = time.perf_counter() - t0
        assert dt < _PER_CALL_BUDGET_S, (
            f"{name} mutation {i}: parse took {dt:.1f}s on corrupt input"
        )
