"""Color-space kernels (HSV/Lab), purple/circularity region filters, and the
PNG debug image sink — the fixture-extraction legs (SURVEY §2 P6/P7/F19/S8)."""

import numpy as np

from granulate_char_ocr_spark.functions import kernels
from granulate_char_ocr_spark.functions.png import decode_png
from granulate_char_ocr_spark.sources.synthetic import render_word


# ---------------------------------------------------------------------------
# debug image sink
# ---------------------------------------------------------------------------


def test_debug_sink_mirrors_noisy_extraction_regions(spark):
    """debug_images(noisy=True) must draw the MERGED regions classification
    sees: a split glyph shows len(word) boxes, not len(word)+1."""
    from granulate_char_ocr_spark.operators.debug_sink import debug_images
    from granulate_char_ocr_spark.operators.extract import extract_unique_media

    img = render_word("TEAM", 0).copy()
    img[:, 6 + 22 : 6 + 25] = 0  # cut the T at 35% of its width
    media = spark.createDataFrame(
        [("m_cut", img.shape[1], img.shape[0], img.tobytes())],
        "media_ref string, width int, height int, pixels binary",
    )
    [dbg] = debug_images(media, noisy=True).collect()
    [rec] = extract_unique_media(media, noisy=True, detail=False).collect()
    assert dbg["n_regions"] == rec["n_chars"] == 4


def test_debug_sink_writes_annotated_pngs(spark, tmp_path):
    from granulate_char_ocr_spark.operators.debug_sink import (
        debug_images,
        write_debug_image_files,
    )

    img = render_word("TEAM", 0)
    media = spark.createDataFrame(
        [("m_team", img.shape[1], img.shape[0], img.tobytes())],
        "media_ref string, width int, height int, pixels binary",
    )
    dbg = debug_images(media)
    [row] = dbg.collect()
    assert row["n_regions"] == 4
    out = str(tmp_path / "debug")
    write_debug_image_files(dbg, out)
    back = decode_png(open(f"{out}/m_team.png", "rb").read())
    assert back.shape == img.shape
    # bbox borders are burned in at the 128 sentinel; binary stays {0,255}
    assert (back == 128).sum() > 0
    pre = kernels.preprocess(img)
    assert set(np.unique(back)) - {128} <= set(np.unique(pre))
