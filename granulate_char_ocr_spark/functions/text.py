"""Text-span normalization — the vectorized Unicode cleanup path.

Pinned spec (seeded by the reference's label-sanitization at
``evaluate_new_testdata.py:33-41`` / ``retrain_with_new_data.py:45``: strip
``!``/``.``, uppercase):

    drop zero-width chars → drop [!.] → collapse whitespace → trim
    → uppercase → NFC normalize

NFC runs LAST because ``upper()`` can emit decomposed sequences (e.g. ``ῒ``
uppercases to ``Ι + ̈ + ̀``); composing afterwards makes the whole map
idempotent (pinned by a hypothesis property test).

Two implementations that MUST agree (pinned by tests/test_normalize.py):

* ``normalize_expr``   — the production path: Spark built-ins (JVM-side,
  whole-stage-codegen) for everything except NFC, which is one Arrow-batched
  pandas UDF (vectorized ``pandas.Series.str.normalize``). Never row-at-a-time
  Python.
* ``normalize_python`` — the oracle/fixture twin used by the corpus generator
  and the DuckDB-free unit tests.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

ZERO_WIDTH = "​‌‍⁠﻿"

# Explicit whitespace class shared by BOTH implementations. Java's \s and
# trim() are ASCII-only while Python's \s is Unicode-wide, so relying on \s
# breaks the MUST-agree invariant on NBSP/U+2000-U+200A/U+3000 inputs
# (ADVICE r1). This is exactly Python re's Unicode \s set, enumerated.
WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)

_ZW_RE = re.compile(f"[{ZERO_WIDTH}]")
_PUNCT_RE = re.compile(r"[!.]")
_WS_RE = re.compile(f"[{WHITESPACE}]+")


def normalize_python(s: str | None) -> str | None:
    """Reference twin of ``normalize_expr`` (plain Python, for fixtures)."""
    if s is None:
        return None
    s = _ZW_RE.sub("", s)
    s = _PUNCT_RE.sub("", s)
    s = _WS_RE.sub(" ", s)
    return unicodedata.normalize("NFC", s.strip().upper())


_nfc_cached = (None, None)  # (SparkContext it was built under, UDF)


def _nfc_udf():
    """Lazily-built Arrow-batched NFC UDF (pandas_udf needs a live session).

    Cached per SparkContext: the UDF's JVM side binds the accumulator of the
    context that first ran it, so reusing it under a later session makes
    every task log "Failed to update accumulator"."""
    global _nfc_cached
    sc = SparkContext._active_spark_context
    if _nfc_cached[0] is not sc:

        @pandas_udf("string")
        def nfc(s: pd.Series) -> pd.Series:
            # Arrow-batched; the only Python hop in the text path.
            return s.str.normalize("NFC")

        _nfc_cached = (sc, nfc)
    return _nfc_cached[1]


# ASCII is NFC-invariant (no ASCII string changes under NFC, and every
# normalization step maps ASCII into ASCII), so rows matching this never
# need the Python hop — the basis of the plan-level split below
ASCII_ONLY_RE = r"^[\x00-\x7F]*$"


def normalize_jvm_expr(col: Column) -> Column:
    """Everything except NFC — pure JVM built-ins, whole-stage codegen.

    The whitespace collapse uses the explicit WHITESPACE class (Java \\s is
    ASCII-only); after it, every whitespace run is a single ASCII space, so
    the plain (ASCII) F.trim is exact."""
    c = F.regexp_replace(col, f"[{ZERO_WIDTH}]", "")
    c = F.regexp_replace(c, r"[!.]", "")
    c = F.regexp_replace(c, f"[{WHITESPACE}]+", " ")
    return F.upper(F.trim(c))


def normalize_expr(col: Column) -> Column:
    """Spark-side normalization: JVM built-ins, then one NFC pandas UDF.

    Note for the hot path: a Python UDF inside when()/otherwise() is pulled
    out and evaluated on EVERY row regardless of the condition, so skipping
    NFC for ASCII rows cannot be expressed as a conditional here — the
    pipeline splits the plan instead (pipeline.py: ASCII rows take
    normalize_jvm_expr only, the rest union in through this full path)."""
    return _nfc_udf()(normalize_jvm_expr(col))
