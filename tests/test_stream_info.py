"""MP3 frame-header and H.264 SPS metadata parsers (the no-decode
metadata legs in front of the honestly-stubbed PCM/pixel decoders)."""

import numpy as np
import pytest

from granulate_char_ocr_spark.functions import h264, mp3

# --- MP3 -------------------------------------------------------------------


def test_mp3_cbr_chain():
    # MPEG-1 Layer III, 128 kbps (idx 9), 44100 Hz (idx 0), stereo
    frame = mp3.build_frame(version_id=3, layer=3, bitrate_idx=9, sr_idx=0)
    assert len(frame) == 144 * 128000 // 44100  # spec frame-length formula
    info = mp3.parse_mp3(frame * 10)
    assert info is not None
    assert (info.n_frames, info.sample_rate, info.channels) == (10, 44100, 2)
    assert (info.layer, info.version, info.vbr) == (3, "1", False)
    assert info.bitrate_kbps == 128.0
    # 10 frames x 1152 samples at 44100 Hz
    assert info.duration_s == pytest.approx(10 * 1152 / 44100, abs=1e-6)


def test_mp3_padding_and_mono_layer2():
    f = mp3.build_frame(version_id=3, layer=2, bitrate_idx=5, sr_idx=1,
                        channels=1, padding=1)
    assert len(f) == 144 * 80000 // 48000 + 1
    info = mp3.parse_mp3(f * 3)
    assert info and info.layer == 2 and info.channels == 1
    assert info.n_frames == 3 and info.sample_rate == 48000


def test_mp3_mpeg2_halfrate_and_vbr_mix():
    # MPEG-2 Layer III: 576 samples/frame, 72-factor length
    f64 = mp3.build_frame(version_id=2, layer=3, bitrate_idx=8, sr_idx=0)
    f80 = mp3.build_frame(version_id=2, layer=3, bitrate_idx=9, sr_idx=0)
    assert len(f64) == 72 * 64000 // 22050
    info = mp3.parse_mp3(f64 + f80 + f64)
    assert info and info.version == "2" and info.vbr  # bitrate varies
    assert info.duration_s == pytest.approx(3 * 576 / 22050, abs=1e-6)
    # mean bitrate is duration-weighted
    assert 64 < info.bitrate_kbps < 80


def test_mp3_id3v2_skip_and_junk_resync():
    frame = mp3.build_frame()
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 20]) + b"x" * 20
    info = mp3.parse_mp3(id3 + frame * 4)
    assert info and info.n_frames == 4
    # junk before the chain, within the resync window
    info = mp3.parse_mp3(b"\x00garbage!" * 3 + frame * 4)
    assert info and info.n_frames == 4


def test_mp3_xing_tag_marks_vbr():
    frame = bytearray(mp3.build_frame())  # MPEG-1 stereo: side info 32
    frame[4 + 32 : 4 + 36] = b"Xing"
    info = mp3.parse_mp3(bytes(frame) * 3)
    assert info and info.vbr


def test_mp3_rejects_garbage_and_false_syncs():
    assert mp3.parse_mp3(b"") is None
    assert mp3.parse_mp3(b"not audio at all") is None
    rng = np.random.default_rng(7)
    for _ in range(20):
        assert mp3.parse_mp3(rng.bytes(2048)) is None
    # fewer than _MIN_FRAMES consecutive frames -> not MP3
    assert mp3.parse_mp3(mp3.build_frame() * 2) is None
    # reserved version id (1) and layer id (0) headers never parse
    assert mp3._parse_header(0xFFE00000) is None
    assert mp3._parse_header(0x7FF00000 << 1 | 1 << 19) is None


# --- H.264 -----------------------------------------------------------------


def _sps_nal(profile=66, level=30, w_mbs=20, h_units=15, fmo=1,
             crop=None, chroma=1) -> bytes:
    w = h264._BitWriter()
    w.u(profile, 8).u(0, 8).u(level, 8).ue(0)
    if profile in h264._HIGH_PROFILES:
        w.ue(chroma)
        if chroma == 3:
            w.u(0, 1)
        w.ue(0).ue(0).u(0, 1).u(0, 1)
    w.ue(4)  # log2_max_frame_num_minus4
    w.ue(0).ue(4)  # poc_type=0, log2_max_poc_lsb
    w.ue(1).u(0, 1)  # max_num_ref_frames, gaps flag
    w.ue(w_mbs - 1).ue(h_units - 1)
    w.u(fmo, 1)
    if not fmo:
        w.u(0, 1)
    w.u(1, 1)  # direct_8x8
    if crop:
        w.u(1, 1)
        for v in crop:
            w.ue(v)
    else:
        w.u(0, 1)
    return bytes([0x67]) + w.tobytes()


def test_sps_baseline_320x240():
    info = h264.parse_sps(_sps_nal())
    assert info == {
        "profile_idc": 66, "level_idc": 30,
        "width": 320, "height": 240, "chroma_format": "4:2:0",
    }


def test_sps_high_profile_1080_crop():
    # 1920x1088 coded, bottom-crop 4 chroma units (4*2=8 luma) -> 1080
    nal = _sps_nal(profile=100, level=40, w_mbs=120, h_units=68,
                   crop=(0, 0, 0, 4))
    info = h264.parse_sps(nal)
    assert info["width"] == 1920 and info["height"] == 1080
    assert info["chroma_format"] == "4:2:0"


def test_sps_interlaced_doubles_height():
    # frame_mbs_only=0: map units are field MB pairs -> x2 height
    info = h264.parse_sps(_sps_nal(w_mbs=40, h_units=18, fmo=0))
    assert info["width"] == 640 and info["height"] == 576


def test_annexb_scan_and_census():
    sps = _sps_nal()
    stream = (
        b"\x00\x00\x00\x01" + sps
        + b"\x00\x00\x01" + bytes([0x68, 0xCE]))  # PPS
    stream += b"\x00\x00\x01" + bytes([0x65]) + b"\x10" * 8  # IDR
    stream += (b"\x00\x00\x01" + bytes([0x41]) + b"\x22" * 8) * 3  # P slices
    info = h264.parse_h264(stream)
    assert info is not None
    assert (info.width, info.height) == (320, 240)
    assert info.n_nal_units == 6
    assert info.n_idr_slices == 1 and info.n_slices == 4


def test_emulation_prevention_strip():
    assert h264.strip_emulation(b"\x00\x00\x03\x01") == b"\x00\x00\x01"
    assert h264.strip_emulation(b"ab\x00\x00\x03\x00cd") == b"ab\x00\x00\x00cd"
    assert h264.strip_emulation(b"ab") == b"ab"


def test_h264_rejects_garbage():
    assert h264.parse_h264(b"") is None
    assert h264.parse_h264(b"\x00\x00\x01" + bytes([0x67, 0xFF])) is None
    rng = np.random.default_rng(11)
    for _ in range(20):
        assert h264.parse_h264(rng.bytes(1024)) is None


def test_bitreader_golomb_roundtrip():
    w = h264._BitWriter()
    vals = [0, 1, 2, 7, 63, 255]
    for v in vals:
        w.ue(v)
    svals = [0, 1, -1, 5, -9]
    for v in svals:
        w.se(v)
    r = h264._BitReader(w.tobytes())
    assert [r.ue() for _ in vals] == vals
    assert [r.se() for _ in svals] == svals


# --- Spark operator ---------------------------------------------------------


def test_media_stream_info_operator(spark):
    import pandas as pd

    from granulate_char_ocr_spark.operators.multimodal import (
        media_stream_info,
    )

    mp3_payload = mp3.build_frame() * 5
    sps = _sps_nal(profile=100, level=41, w_mbs=80, h_units=45)
    h264_payload = (
        b"\x00\x00\x00\x01" + sps
        + b"\x00\x00\x01" + bytes([0x65]) + b"\x01" * 4
        + b"\x00\x00\x01" + bytes([0x41]) + b"\x02" * 4
    )
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": ["a.mp3", "b.h264", "c.bin"],
            "payload": [mp3_payload, h264_payload, b"\x00garbage"],
        })
    )
    got = {r["media_ref"]: r for r in media_stream_info(media).collect()}
    a = got["a.mp3"]
    assert a["format"] == "mp3v1L3" and a["n_frames"] == 5
    assert a["sample_rate"] == 44100 and a["bitrate_kbps"] == 128.0
    b = got["b.h264"]
    assert b["format"] == "h264" and (b["width"], b["height"]) == (1280, 720)
    assert b["profile_level"] == "100@4.1" and b["n_frames"] == 2
    assert got["c.bin"]["format"] is None


def test_media_stream_info_routes_wav_and_avi(spark):
    import numpy as np
    import pandas as pd

    from granulate_char_ocr_spark.functions.avi import encode_avi_mjpeg
    from granulate_char_ocr_spark.functions.wav import encode_wav
    from granulate_char_ocr_spark.operators.multimodal import (
        media_stream_info,
    )

    samples = np.zeros(8000, dtype=np.int16)
    wav = encode_wav(samples, 16000)
    frames = [np.zeros((16, 16), dtype=np.uint8)] * 3
    avi = encode_avi_mjpeg(frames, fps=10)
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": ["a.wav", "v.avi"],
            "payload": [wav, avi],
        })
    )
    got = {r["media_ref"]: r for r in media_stream_info(media).collect()}
    w = got["a.wav"]
    assert w["format"].startswith("wav/") and w["sample_rate"] == 16000
    assert w["channels"] == 1 and abs(w["duration_sec"] - 0.5) < 1e-9
    v = got["v.avi"]
    assert v["format"] == "avi" and (v["width"], v["height"]) == (16, 16)
    assert v["n_frames"] == 3 and abs(v["duration_sec"] - 0.3) < 1e-6


def test_media_stream_info_routes_images(spark):
    import pandas as pd

    from granulate_char_ocr_spark.functions.bmp import encode_bmp
    from granulate_char_ocr_spark.functions.gif import encode_gif
    from granulate_char_ocr_spark.functions.jpeg import encode_jpeg
    from granulate_char_ocr_spark.functions.png import encode_png
    from granulate_char_ocr_spark.functions.tiff import encode_tiff
    from granulate_char_ocr_spark.operators.multimodal import (
        media_stream_info,
    )

    img = (np.arange(24 * 40, dtype=np.uint8) % 251).reshape(24, 40)
    media = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": ["i.png", "i.jpg", "i.gif", "i.bmp", "i.tif"],
            "payload": [
                encode_png(img), encode_jpeg(img),
                encode_gif(img % 16, np.arange(48, dtype=np.uint8)
                           .reshape(16, 3)),
                encode_bmp(img), encode_tiff(img),
            ],
        })
    )
    got = {r["media_ref"]: r for r in media_stream_info(media).collect()}
    for ref, fmt in [("i.png", "png"), ("i.jpg", "jpeg"),
                     ("i.gif", "gif"), ("i.bmp", "bmp"), ("i.tif", "tiff")]:
        row = got[ref]
        assert row["format"] == fmt, (ref, row["format"])
        assert (row["width"], row["height"]) == (40, 24), ref


def test_media_stream_info_null_payload_keeps_row(spark):
    # ADVICE r4: a NULL payload must keep its row with format NULL (the
    # decode_error-surfacing convention), not fail the task
    import pandas as pd

    from granulate_char_ocr_spark.operators.multimodal import (
        media_stream_info,
    )

    media = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": ["gone.bin", "ok.mp3"],
            "payload": [None, mp3.build_frame() * 3],
        })
    )
    got = {r["media_ref"]: r for r in media_stream_info(media).collect()}
    assert got["gone.bin"]["format"] is None
    assert got["gone.bin"]["width"] is None
    assert got["ok.mp3"]["format"] == "mp3v1L3"


def test_image_geometry_jpeg_fill_bytes_and_standalone_markers():
    # ADVICE r4: legal 0xFF fill bytes / standalone TEM-RST markers
    # between segments must not eject a JPEG from the image route
    import struct

    from granulate_char_ocr_spark.operators.multimodal import (
        _image_geometry,
    )

    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"xx"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(
        ">HH", 24, 40
    ) + b"\x01\x01\x11\x00"
    # fill bytes before a marker, plus a standalone TEM (0xFF01)
    jpeg = b"\xff\xd8" + app0 + b"\xff\xff\xff" + b"\xff\x01" + sof0
    assert _image_geometry(jpeg) == ("jpeg", 40, 24)
    # EOI before any SOF: not a decodable image geometry
    assert _image_geometry(b"\xff\xd8\xff\xd9") is None


def test_audio_features_null_payload_zero_duration(spark):
    import pandas as pd

    from granulate_char_ocr_spark.operators.multimodal import audio_features

    audio = spark.createDataFrame(
        pd.DataFrame({
            "media_ref": ["null.wav"],
            "codec": ["auto"],
            "sample_rate": [16000],
            "payload": [None],
        })
    )
    rows = audio_features(audio).collect()
    assert len(rows) == 1 and rows[0]["duration_sec"] == 0.0
