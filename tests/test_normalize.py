"""Pin the equality of the Spark normalization path and its Python twin
(the fixture generator depends on it — FIXTURES.md §5 invariant)."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

from granulate_char_ocr_spark.functions.text import normalize_expr, normalize_python

CASES = [
    "hello world",
    "  MiXeD   cAsE  ",
    "trailing!",
    "dots.every.where.",
    "zero​width‌chars‍ here﻿",
    "nfd: café résumé",
    "nfc: café résumé",
    "tabs\tand\nnewlines",
    "über año",
    "",
    "!!..!!",
    # Unicode whitespace (ADVICE r1): NBSP, en/em spaces, ideographic space,
    # narrow NBSP, line/paragraph separators - Java \\s misses all of these
    "hello\xa0world\u3000x",
    "\xa0 leading nbsp and ideographic trail\u3000",
    "thin\u2009space and\u2028line\u2029paragraph",
    "en\u2002em\u2003quad\u2000\u2001figure\u2007narrow\u202fmath\u205f",
    "ogham\u1680mark\x85next\x1c\x1d\x1e\x1fend",
    None,
]


def test_python_twin_examples():
    assert normalize_python("  MiXeD   cAsE  ") == "MIXED CASE"
    assert normalize_python("trailing!") == "TRAILING"
    assert normalize_python("café") == "CAFÉ"
    assert normalize_python("a​b") == "AB"
    assert normalize_python(None) is None


def test_spark_matches_python(spark):
    df = spark.createDataFrame([(i, c) for i, c in enumerate(CASES)], "i int, raw string")
    got = {
        r["i"]: r["norm"]
        for r in df.select("i", normalize_expr(F.col("raw")).alias("norm")).collect()
    }
    for i, c in enumerate(CASES):
        assert got[i] == normalize_python(c), repr(c)


_TWO_SESSIONS = """
from pyspark.sql import functions as F
from granulate_char_ocr_spark.functions.text import normalize_expr
from granulate_char_ocr_spark.session import get_spark

for _ in range(2):
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    df = spark.createDataFrame([("café",)], "t string")
    assert df.select(normalize_expr(F.col("t"))).collect()[0][0] == "CAFÉ"
    spark.stop()
"""


def test_nfc_udf_survives_session_restart():
    """The NFC UDF must be rebuilt for each SparkContext: one cached under a
    stopped context makes every task of the next session log a failed
    accumulator update."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo, "SPARK_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", _TWO_SESSIONS],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "Failed to update accumulator" not in proc.stderr
