"""Baseline JPEG codec (grayscale, pure NumPy): near-equal round-trips
(JPEG is lossy), glyph-hash stability, format guards, and Spark-path parity
with raw payloads through the multimodal operators."""

import numpy as np
import pytest

from granulate_char_ocr_spark.functions import kernels
from granulate_char_ocr_spark.functions.jpeg import decode_jpeg, encode_jpeg
from granulate_char_ocr_spark.sources.synthetic import render_word


def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return float("inf") if mse == 0 else 10 * np.log10(255**2 / mse)


@pytest.mark.parametrize(
    "shape", [(8, 8), (24, 40), (17, 33), (64, 64), (1, 1), (9, 8)]
)
def test_roundtrip_psnr_gradient(shape):
    yy, xx = np.mgrid[0 : shape[0], 0 : shape[1]]
    img = np.clip(yy * 3 + xx * 2, 0, 255).astype(np.uint8)
    back = decode_jpeg(encode_jpeg(img, quality=90))
    assert back.shape == img.shape
    assert _psnr(img, back) > 40


def test_roundtrip_noise_and_quality_ladder():
    img = np.random.default_rng(0).integers(0, 256, (32, 48), dtype=np.uint8)
    p_lo = _psnr(img, decode_jpeg(encode_jpeg(img, quality=30)))
    p_hi = _psnr(img, decode_jpeg(encode_jpeg(img, quality=95)))
    assert p_hi > p_lo > 10  # higher quality → higher fidelity


def test_constant_image_exact():
    img = np.full((16, 24), 130, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(img)), img)


def test_glyph_survives_jpeg_with_identical_hash_and_recognition():
    img = render_word("PLEASURE", 0)
    back = decode_jpeg(encode_jpeg(img, quality=95))
    assert _psnr(img, back) > 50
    chars = kernels.recognize_word(back)
    assert "".join(c["latin"] for c in chars) == "PLEASURE"
    assert np.array_equal(kernels.ahash_bits(back), kernels.ahash_bits(img))


def test_unsupported_variants_rejected():
    good = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint8)))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"notajpeg")
    # flip SOF0 (C0) to SOF1 (C1, extended sequential)
    i = bytes(good).find(b"\xff\xc0")
    ext = bytes(good[:i]) + b"\xff\xc1" + bytes(good[i + 2 :])
    with pytest.raises(ValueError, match="SOF0"):
        decode_jpeg(ext)
    # flipping to SOF2 leaves a baseline-shaped scan (Ss=0, Se=63) that is
    # ILLEGAL in progressive mode — must reject, not misparse as a DC scan
    prog = bytes(good[:i]) + b"\xff\xc2" + bytes(good[i + 2 :])
    with pytest.raises(ValueError, match="progressive scan"):
        decode_jpeg(prog)
    with pytest.raises(ValueError, match="grayscale"):
        encode_jpeg(np.zeros((4, 4, 2), dtype=np.uint8))
    with pytest.raises(ValueError, match="subsampling"):
        encode_jpeg(np.zeros((4, 4, 3), dtype=np.uint8), subsampling="4:1:1")


def test_jpeg_media_embeddings_match_raw(spark):
    """decode_payload('jpeg') through the Spark embedding operator equals
    the raw-payload result (ahash is stable under q=95 compression)."""
    from granulate_char_ocr_spark.operators import multimodal

    words = ["TEAM", "US"]
    rows = []
    for codec in ("raw", "jpeg"):
        for w in words:
            img = render_word(w, 0)
            payload = (
                img.tobytes() if codec == "raw" else encode_jpeg(img, quality=95)
            )
            rows.append(
                (
                    f"{codec}_{w}", "image", codec, img.shape[1], img.shape[0],
                    1, 0, payload,
                )
            )
    df = spark.createDataFrame(rows, schema=multimodal.MULTIMODAL_SCHEMA)
    emb = {
        r["media_ref"]: list(r["embedding"])
        for r in multimodal.image_embeddings(df).collect()
    }
    for w in words:
        assert emb[f"jpeg_{w}"] == emb[f"raw_{w}"], w


def test_mixed_image_corpus_scan(spark, tmp_path):
    """One directory of PNGs AND JPEGs, codec sniffed from content, both
    recognized exactly end-to-end."""
    from granulate_char_ocr_spark.operators.extract import extract_media_spans
    from granulate_char_ocr_spark.sources.binary_files import read_image_corpus
    from granulate_char_ocr_spark.functions.png import encode_png
    from pyspark.sql import functions as F

    (tmp_path / "TEAM_1.png").write_bytes(encode_png(render_word("TEAM", 0)))
    (tmp_path / "WORK_2.jpg").write_bytes(
        encode_jpeg(render_word("WORK", 1), quality=95)
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
    assert got == {"TEAM_1.png": "TEAM", "WORK_2.jpg": "WORK"}
    labels = {
        r["path"].rsplit("/", 1)[-1]: r["expected"] for r in corpus.collect()
    }
    assert labels == {"TEAM_1.png": "TEAM", "WORK_2.jpg": "WORK"}


# --- color (YCbCr) -----------------------------------------------------------


def _smooth_rgb(h=80, w=96):
    x = np.linspace(0, 4 * np.pi, w)
    y = np.linspace(0, 3 * np.pi, h)
    r = 127 + 120 * np.sin(x)[None, :] * np.cos(y)[:, None]
    g = 127 + 120 * np.cos(x)[None, :] * np.sin(y)[:, None]
    b = 127 + 120 * np.sin(x + 1)[None, :] * np.sin(y + 1)[:, None]
    return np.clip(np.dstack([r, g, b]), 0, 255).astype(np.uint8)


@pytest.mark.parametrize("ss,min_psnr", [("4:4:4", 44), ("4:2:0", 33)])
def test_color_roundtrip(ss, min_psnr):
    img = _smooth_rgb()
    out = decode_jpeg(encode_jpeg(img, quality=95, subsampling=ss))
    assert out.shape == img.shape
    assert _psnr(img, out) > min_psnr


def test_color_roundtrip_odd_dims_420():
    """4:2:0 with dims not divisible by 16 exercises the MCU edge padding
    and the chroma crop/upsample path."""
    img = _smooth_rgb(77, 93)
    out = decode_jpeg(encode_jpeg(img, quality=90, subsampling="4:2:0"))
    assert out.shape == img.shape
    assert _psnr(img, out) > 30


def test_color_quality_ladder():
    img = _smooth_rgb()
    lo = _psnr(img, decode_jpeg(encode_jpeg(img, 30, subsampling="4:4:4")))
    hi = _psnr(img, decode_jpeg(encode_jpeg(img, 95, subsampling="4:4:4")))
    assert hi > lo > 15


def test_422_roundtrip():
    """4:2:2 (Y 2×1, horizontally halved chroma — the broadcast-video
    layout) through the generic MCU grid, including odd width."""
    img = _smooth_rgb(33, 47)
    out = decode_jpeg(encode_jpeg(img, quality=92, subsampling="4:2:2"))
    assert out.shape == img.shape
    assert _psnr(img, out) > 31


def test_grayscale_bytes_unchanged_by_color_support():
    """The gray path must stay byte-compatible (single component, luma
    tables only) — golden parity for existing corpora."""
    img = np.clip(
        np.mgrid[0:32, 0:48][0] * 5 + np.mgrid[0:32, 0:48][1] * 3, 0, 255
    ).astype(np.uint8)
    data = encode_jpeg(img, quality=90)
    # structure: SOI DQT(1 table) SOF0(1 comp) DHT(2 tables) SOS
    assert data.count(b"\xff\xdb") >= 1
    i = data.find(b"\xff\xc0")
    assert data[i + 9] == 1  # ncomp byte
    out = decode_jpeg(data)
    assert _psnr(img, out) > 40


def test_standalone_markers_skipped_in_header():
    """TEM (0xFF01) and stray RSTn before SOS carry no length word; the
    parser must skip them instead of reading garbage lengths (ADVICE r2)."""
    img = np.full((8, 8), 77, dtype=np.uint8)
    data = encode_jpeg(img)
    # inject TEM + RST3 right after SOI
    patched = data[:2] + b"\xff\x01\xff\xd3" + data[2:]
    assert np.array_equal(decode_jpeg(patched), decode_jpeg(data))


def test_color_jpeg_through_multimodal_sniff(spark):
    """A color JFIF payload sniffs as jpeg and luma-converts through
    decode_payload — the reference's arbitrary-photo decode step."""
    from granulate_char_ocr_spark.operators.multimodal import decode_payload

    img = _smooth_rgb(40, 56)
    payload = encode_jpeg(img, quality=95, subsampling="4:2:0")
    gray = decode_payload(payload, "auto", 0, 0)
    assert gray.shape == (40, 56)
    # luma of the decoded RGB must track the BT.601 luma of the source
    want = kernels.to_grayscale(img[..., 2::-1])
    assert _psnr(want, gray) > 30


def test_restart_interval_roundtrip_pixel_identical():
    """DRI/RSTn streams must decode to EXACTLY the pixels of the ri=0
    encode: restarts only re-align the entropy stream (byte pad + DC
    predictor reset), they never change coefficients."""
    rng = np.random.default_rng(7)
    gray = (rng.integers(0, 4, (57, 43)) * 60).astype(np.uint8)
    color = rng.integers(0, 256, (61, 45, 3)).astype(np.uint8)
    for img, kw in [
        (gray, {}),
        (color, {"subsampling": "4:2:0"}),
        (color, {"subsampling": "4:4:4"}),
    ]:
        base = decode_jpeg(encode_jpeg(img, quality=92, **kw))
        for ri in (1, 3, 100):
            data = encode_jpeg(img, quality=92, restart_interval=ri, **kw)
            assert np.array_equal(decode_jpeg(data), base), (kw, ri)


def test_restart_markers_emitted_and_cycle():
    """80x64 4:2:0 => 5x4 = 20 MCUs; ri=2 => 9 interior RSTn markers
    cycling D0..D7 then wrapping (T.81 E.1.4)."""
    img = np.random.default_rng(3).integers(0, 256, (64, 80, 3)).astype(
        np.uint8
    )
    data = encode_jpeg(img, subsampling="4:2:0", restart_interval=2)
    assert data.count(b"\xff\xdd") == 1  # one DRI segment
    markers = [
        data[i + 1] - 0xD0
        for i in range(len(data) - 1)
        if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
    ]
    assert markers == [0, 1, 2, 3, 4, 5, 6, 7, 0]


def test_restart_stream_missing_segment_rejected():
    """Dropping a restart segment leaves too few entropy segments for the
    MCU count — a clean error, not garbage pixels."""
    img = np.random.default_rng(5).integers(0, 256, (64, 80, 3)).astype(
        np.uint8
    )
    data = encode_jpeg(img, subsampling="4:2:0", restart_interval=2)
    starts = [
        i
        for i in range(len(data) - 1)
        if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
    ]
    bad = data[: starts[3]] + data[starts[5] :]
    with pytest.raises(ValueError, match="restart|Huffman|truncated"):
        decode_jpeg(bad)


# --------------------------------------------------------------------------
# progressive (SOF2)
# --------------------------------------------------------------------------

from encoders import encode_jpeg_progressive


def _prog_case(shape, sub):
    rng = np.random.default_rng(11)
    base = np.linspace(0, 255, num=int(np.prod(shape))).reshape(shape)
    return np.clip(base + rng.normal(0, 40, shape), 0, 255).astype(np.uint8), (
        {"subsampling": sub} if sub else {}
    )


@pytest.mark.parametrize(
    "shape,sub",
    [
        ((64, 80), None),
        ((57, 43), None),
        ((64, 80, 3), "4:2:0"),
        ((61, 45, 3), "4:2:2"),
        ((40, 40, 3), "4:4:4"),
        ((17, 23, 3), "4:2:0"),
    ],
)
def test_progressive_pixel_identical_to_baseline(shape, sub):
    """Successive approximation recovers every coefficient bit, so the
    progressive stream must decode to EXACTLY the baseline pixels at the
    same quality/subsampling — not merely near-equal."""
    img, kw = _prog_case(shape, sub)
    for q in (50, 90):
        want = decode_jpeg(encode_jpeg(img, quality=q, **kw))
        got = decode_jpeg(encode_jpeg_progressive(img, quality=q, **kw))
        assert np.array_equal(got, want), (shape, sub, q)


def test_progressive_edge_cases():
    """Flat blocks (maximal EOB runs with extension bits), dense noise at
    low quality (ZRL + correction-bit crossings in refinement scans), and
    isolated spikes (long zero runs in first-pass scans)."""
    rng = np.random.default_rng(23)
    cases = [
        (np.full((128, 128), 130, np.uint8), None, 90),
        (rng.integers(0, 256, (120, 88), dtype=np.uint8), None, 35),
        (rng.integers(0, 256, (80, 80, 3), dtype=np.uint8), "4:2:0", 25),
    ]
    spikes = np.zeros((200, 168), np.uint8)
    spikes[::17, ::13] = 255
    cases.append((spikes, None, 95))
    for img, sub, q in cases:
        kw = {"subsampling": sub} if sub else {}
        want = decode_jpeg(encode_jpeg(img, quality=q, **kw))
        got = decode_jpeg(encode_jpeg_progressive(img, quality=q, **kw))
        assert np.array_equal(got, want)


def test_progressive_with_restart_intervals():
    """DRI applies per scan in progressive mode (EOB runs and DC
    predictors reset at each RSTn); decoded pixels stay identical."""
    rng = np.random.default_rng(31)
    color = rng.integers(0, 256, (64, 80, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (57, 43), dtype=np.uint8)
    for img, sub, ri in [(color, "4:2:0", 2), (gray, None, 1)]:
        kw = {"subsampling": sub} if sub else {}
        want = decode_jpeg(encode_jpeg(img, quality=90, **kw))
        data = encode_jpeg_progressive(
            img, quality=90, restart_interval=ri, **kw
        )
        assert sum(
            data.count(bytes([0xFF, 0xD0 + i])) for i in range(8)
        ) > 0
        assert np.array_equal(decode_jpeg(data), want)


def test_progressive_stream_structure():
    """SOF2 frame, one SOS per script scan, DHT re-declared before every
    Huffman-coded scan (DC refinement scans are raw bits: no DHT)."""
    img, kw = _prog_case((64, 80, 3), "4:2:0")
    data = encode_jpeg_progressive(img, quality=90, **kw)
    assert data.count(b"\xff\xc2") == 1 and b"\xff\xc0" not in data
    n_sos = data.count(b"\xff\xda")
    assert n_sos == 10  # the color script's scan count
    assert data.count(b"\xff\xc4") == 9  # all but the DC refinement scan


def test_progressive_through_multimodal_sniff(spark):
    """A progressive JFIF payload sniffs as jpeg and decodes through
    decode_payload like any other compressed image."""
    from granulate_char_ocr_spark.operators.multimodal import decode_payload

    img = _smooth_rgb(40, 56)
    payload = encode_jpeg_progressive(img, quality=95, subsampling="4:2:0")
    gray = decode_payload(payload, "auto", 0, 0)
    want = kernels.to_grayscale(img[..., 2::-1])
    assert gray.shape == (40, 56)
    assert _psnr(want, gray) > 30


def test_megapixel_decode_budget():
    """Perf guard (VERDICT r3 item 4): a ~1.2 MP color photo must decode
    in interpreter-seconds, not minutes — the window array is built with
    8 vectorized shifts and the entropy loop indexes plain lists, while
    dequant+IDCT is one batched matmul per component. Budgets are ~4x
    the measured steady state (baseline 0.4 s, progressive 1.7 s on an
    unloaded local[32] box) to absorb CI load drift."""
    import time

    rng = np.random.default_rng(5)
    yy, xx = np.mgrid[0:960, 0:1280]
    img = np.stack(
        [(xx // 5 + yy // 7) % 256, (xx // 3) % 256, (yy // 4) % 256],
        axis=-1,
    ).astype(np.uint8)
    img = np.clip(
        img.astype(np.int16) + rng.integers(-12, 13, img.shape), 0, 255
    ).astype(np.uint8)

    def min_of(fn, n=3):
        # min-of-N, matching the repo's bench methodology: this VM's first
        # touch of fresh numpy allocations right after a CPU-heavy phase
        # can stall for seconds (throttle/page-fault drift, CLAUDE.md) —
        # the budget pins the engine's steady state, not the VM's mood
        best, out = None, None
        for _ in range(n):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best, out

    data = encode_jpeg(img, quality=85, subsampling="4:2:0")
    baseline_sec, out = min_of(lambda: decode_jpeg(data))
    assert out.shape == img.shape
    assert baseline_sec < 2.0, f"baseline 1.2MP decode took {baseline_sec:.2f}s"

    datap = encode_jpeg_progressive(img, quality=85, subsampling="4:2:0")
    prog_sec, outp = min_of(lambda: decode_jpeg(datap))
    assert np.array_equal(out, outp)  # same coefficients, same pixels
    assert prog_sec < 8.0, f"progressive 1.2MP decode took {prog_sec:.2f}s"


def test_window16_array_path_matches_list_path(monkeypatch):
    """Review fix r4: segments past _WINDOW_LIST_MAX use array('I')
    instead of a boxed-int list (bounded memory); both paths must decode
    bit-identically."""
    from granulate_char_ocr_spark.functions import jpeg as j

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (160, 160), dtype=np.uint8)
    data = encode_jpeg(img, quality=95)
    want = decode_jpeg(data)
    monkeypatch.setattr(j, "_WINDOW_LIST_MAX", 1)
    got = decode_jpeg(data)
    assert np.array_equal(got, want)
