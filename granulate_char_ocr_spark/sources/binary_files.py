"""Corpus scan over loose image files (SURVEY §2.1 S4).

The reference's evaluation harness globs ``test_data/*_*.png`` and takes the
expected label from the filename stem (``evaluate_new_testdata.py:28-44``).
The Spark-native restatement: ``spark.read.format("binaryFile")`` +
``regexp_extract(input_file_name(), ...)`` — a distributed scan with the
label derivation as a column expression, no driver-side globbing.

Payloads are real compressed images (``read_image_corpus`` — the
reference's actual ``test_data/*_*.png`` glob generalized to mixed
PNG/JPEG directories, codec sniffed from the payload signature, decoded by
the pure-NumPy codecs in functions/png.py and functions/jpeg.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# case-insensitive: real corpora mix PLEASURE_1.png, pleasure_2.PNG,
# Photo_3.JPG (ADVICE r2: a lowercase-only match silently dropped every
# uppercase-extension file's label); the label folds to upper afterwards,
# matching the reference's sanitization
_IMAGE_LABEL_RE = r"(?i)([A-Z]+)[!.]?_\d+\.(?:png|jpe?g|gif|tiff?|bmp)$"


def read_image_corpus(
    spark: SparkSession, glob_path: str, permissive: bool = True
) -> DataFrame:
    """(path, expected, width, height, pixels, decode_error): the reference's
    REAL corpus shape — a glob of ``<LABEL>_<n>.(png|jpg)`` files
    (evaluate_new_testdata.py:28-44) — as a distributed binaryFile scan +
    Arrow-batched decode. The codec is sniffed from the payload signature
    (PNG magic / JPEG SOI), not the extension, and decoded by the pure-NumPy
    codecs (functions/png.py, functions/jpeg.py); decoded payloads land in
    the engine's raw layout so the extraction operators consume them
    unchanged.

    ``permissive=True`` (the production default, mirroring Spark's
    PERMISSIVE JSON mode): a corrupt/unsupported file yields a row with null
    pixels and the reason in ``decode_error`` instead of failing the task —
    at 100 TB some files ARE broken, and one of them must not kill a stage.
    ``permissive=False`` raises, for corpora that must be clean."""
    from collections.abc import Iterator

    import pandas as pd

    from granulate_char_ocr_spark.operators.multimodal import decode_payload

    raw = spark.read.format("binaryFile").load(glob_path).select(
        "path",
        F.upper(
            F.regexp_extract(
                F.element_at(F.split(F.col("path"), "/"), -1),
                _IMAGE_LABEL_RE,
                1,
            )
        ).alias("expected"),
        "content",
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                try:
                    img = decode_payload(bytes(r.content), "auto", 0, 0)
                    out.append(
                        (r.path, r.expected, img.shape[1], img.shape[0],
                         img.tobytes(), None)
                    )
                except Exception as ex:
                    if not permissive:
                        raise
                    out.append((r.path, r.expected, None, None, None, str(ex)))
            yield pd.DataFrame(
                out,
                columns=[
                    "path", "expected", "width", "height", "pixels",
                    "decode_error",
                ],
            )

    return raw.mapInPandas(
        fn,
        schema=(
            "path string, expected string, width int, height int, "
            "pixels binary, decode_error string"
        ),
    )


# backwards-compatible name (r2 early API)
read_png_corpus = read_image_corpus
