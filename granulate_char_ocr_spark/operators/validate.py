"""The Granulate↔Latin alphabet as a table (SURVEY §2.2 P5, §2.3 J2).

The reference's ``CharacterValidator``
(``backend/application/services/character_validator.py:23-53``) checks
recognized symbols against this 36-row mapping; the engine uses it as the
broadcast side of the ``alphabet_translate_initials`` lookup query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from granulate_char_ocr_spark.alphabet import GRANULATE_TO_LATIN


def alphabet_table(spark: SparkSession) -> DataFrame:
    """The 36-row Granulate↔Latin mapping as a broadcastable DataFrame."""
    return spark.createDataFrame(
        list(GRANULATE_TO_LATIN.items()),
        "granulate_symbol string, mapped_latin string",
    )
