"""Minimal pure-Python AVI (RIFF) container with MJPEG video frames.

Motion-JPEG-in-AVI is the one mainstream video format that needs no
temporal codec — every frame is a standalone JPEG from the T.81 codec in
functions/jpeg.py. ``encode_avi_mjpeg`` writes the container;
``avi_info`` walks the RIFF chunk tree for the stream metadata that
``multimodal.media_stream_info`` reports. Temporal codecs (H.264 et al.)
remain honestly out of scope in-sandbox.

Layout (OpenDML/MS AVI RIFF spec): RIFF('AVI ' LIST('hdrl' avih
LIST('strl' strh strf)) LIST('movi' 00dc...) [idx1]); chunks are
word-aligned; unknown chunks skip by declared size.
"""

from __future__ import annotations

import struct

import numpy as np

from granulate_char_ocr_spark.functions.jpeg import encode_jpeg


def _chunk(tag: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) & 1 else b""
    return tag + struct.pack("<I", len(payload)) + payload + pad


def _list(four_cc: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", four_cc + payload)


def encode_avi_mjpeg(
    frames: list[np.ndarray], fps: int = 25, quality: int = 90
) -> bytes:
    """uint8 (H, W) or (H, W, 3) frames -> MJPEG AVI bytes (one ``00dc``
    JPEG chunk per frame, standard avih/strh/strf headers)."""
    if not frames:
        raise ValueError("encode_avi_mjpeg: no frames")
    h, w = frames[0].shape[0], frames[0].shape[1]
    payloads = [encode_jpeg(f, quality=quality) for f in frames]
    avih = struct.pack(
        "<IIIIIIIIII",
        1_000_000 // fps,  # microseconds per frame
        max(len(p) for p in payloads) * fps,  # max bytes/sec (approx)
        0,  # padding granularity
        0x10,  # AVIF_HASINDEX absent -> 0x10 = AVIF_WASCAPTUREFILE (benign)
        len(frames), 0, 1, 0, w, h,
    ) + struct.pack("<IIII", 0, 0, 0, 0)
    strh = (
        b"vids" + b"MJPG"
        # dwFlags, wPriority, wLanguage, dwInitialFrames, dwScale, dwRate,
        # dwStart, dwLength, dwSuggestedBufferSize, dwQuality, dwSampleSize
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0,
                      len(frames), 0, 0, 0)
        + struct.pack("<hhhh", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack(  # BITMAPINFOHEADER
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", p) for p in payloads))
    return b"RIFF" + struct.pack(
        "<I", 4 + len(hdrl) + len(movi)
    ) + b"AVI " + hdrl + movi


def avi_info(data: bytes):
    """Header-only probe: (width, height, n_frames, duration_s) from the
    avih main header — no frame decode. None if not RIFF/AVI."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        return None
    idx = data.find(b"avih")
    if idx < 0 or idx + 48 > len(data):
        return None
    us_per_frame, _, _, _, n_frames = struct.unpack(
        "<IIIII", data[idx + 8 : idx + 28]
    )
    width, height = struct.unpack("<II", data[idx + 40 : idx + 48])
    duration = n_frames * us_per_frame / 1e6 if us_per_frame else None
    return width, height, n_frames, duration
