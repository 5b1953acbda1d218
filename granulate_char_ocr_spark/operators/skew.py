"""Explicit skew handling for the media-extraction stage.

AQE's skew-join splitting only fixes *join* skew; our skew is **compute**
skew — media-heavy documents (the 1%-of-docs-with-50× tail, FIXTURES.md §1)
would pin one task in ``mapInPandas`` while its siblings idle. The fix is the
north rule's doc_id salting: repartition the exploded media spans on
``(doc_id, salt)`` where salt spreads a hot doc's spans across ``n_salts``
partitions. Extraction is span-local (no per-doc state), so correctness is
unaffected; order is later restored by key in the stitch (operators/stitch.py).

:func:`kernel_partitions` sizes every Python-kernel stage (extraction, decode,
the dedup kernels) by its estimated work, not by the core count: a Python
task's fixed set-up outweighs the kernel work of a small stage.
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"

# Layout of the Python-kernel stages (kernel_partitions). A Python-UDF task
# pays a fixed set-up before its UDF runs: 0.25-0.29 s of worker CPU on a
# 4-core box, most of it importlib.invalidate_caches() making each of the
# 16 zipimporters on the worker's sys.path re-read its archive's directory.
# tools/python_task_cost.py re-measures it on another box.
PYTHON_TASK_S = 0.25
# work a task must carry, so that its fixed cost is at most a third of it
MIN_TASK_WORK_S = 2 * PYTHON_TASK_S
# at most this many tasks per core: corpus-scale inputs keep the layout the
# kernel stages always had
MAX_TASKS_PER_CORE = 4

# Cost classes: Python-kernel CPU seconds per estimated row, measured on the
# perfbench corpus and the sf0.1 test tables.
# OCR: preprocess 135 + segment 117 + 3.77 crops x 35 us classify per image
OCR_IMAGE_S = 0.39e-3
DECODE_IMAGE_S = 1.3e-3  # sniff-decode of a compressed glyph payload
NGRAM_DOC_S = 40e-6  # replicated-index Jaccard kernel, per document
EMBEDDING_PAIR_S = 0.1e-6  # blocked cosine kernel, per vector pair
# the documents' parquet leaf whose non-null values are the media spans
MEDIA_REF_LEAF = "spans.list.element.media_ref"


def _footer_rows(uri: str, leaf: str | None) -> int | None:
    """Rows of one parquet file from its footer, or with ``leaf`` the leaf's
    non-null values; None when the file is not a local parquet file or its
    footer lacks the leaf's null counts."""
    import pyarrow.parquet as pq

    url = urlparse(uri)
    if url.scheme not in ("", "file"):
        return None
    try:
        meta = pq.read_metadata(unquote(url.path))
    except (OSError, ValueError):
        return None
    if leaf is None:
        return meta.num_rows
    paths = [meta.schema.column(i).path for i in range(meta.num_columns)]
    if leaf not in paths:
        return None
    rows = 0
    for g in range(meta.num_row_groups):
        col = meta.row_group(g).column(paths.index(leaf))
        stats = col.statistics
        if stats is None or not stats.has_null_count:
            return None
        rows += col.num_values - stats.null_count
    return rows


def kernel_partitions(
    df: DataFrame,
    s_per_row: float,
    leaf: str | None = None,
    pairwise: bool = False,
) -> int:
    """Task count for a Python-kernel stage over ``df``: its estimated rows
    (``pairwise``: row pairs) x ``s_per_row`` of kernel work, split into
    tasks of at least MIN_TASK_WORK_S, at least 1 and at most
    MAX_TASKS_PER_CORE x cores.

    Rows come from the parquet footers of ``df.inputFiles()`` (no Spark
    job): the files' rows, or with ``leaf`` that leaf's non-null values.
    Footer reads stop once the count reaches the cap; without a file scan,
    or with a footer that cannot tell, the count is the cap."""
    cap = MAX_TASKS_PER_CORE * df.sparkSession.sparkContext.defaultParallelism

    def tasks(rows: int) -> int:
        n = rows * (rows - 1) / 2 if pairwise else rows
        return int(n * s_per_row / MIN_TASK_WORK_S)

    files = df.inputFiles()
    if not files:
        return cap
    rows = 0
    for uri in files:
        n = _footer_rows(uri, leaf)
        if n is None:
            return cap
        rows += n
        if tasks(rows) >= cap:
            return cap
    return max(1, tasks(rows))


def salt_repartition(
    df: DataFrame,
    n_salts: int = 8,
    num_partitions: int | None = None,
    key: str = "doc_id",
    spread_col: str = "offset",
) -> DataFrame:
    """Repartition on (key, salt) with salt = xxhash64(spread_col) % n_salts.

    The salt is derived from a per-span column (offset), so it is
    deterministic (idempotent resume-safe) — not random — and uniform within
    a hot document.
    """
    salted = df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col(spread_col)), F.lit(n_salts))
    )
    if num_partitions is None:
        # Explicit count, NOT AQE-advisory: the exchange carries only span
        # keys (tiny bytes), so AQE would coalesce it to ~1 partition and
        # serialize the downstream pixel-join + extraction kernel. The real
        # work per row (decode/classify after the media join) is invisible
        # to byte-based coalescing — a known AQE blind spot for compute-heavy
        # UDF stages. The count follows the media spans in the documents'
        # footers (one image each).
        num_partitions = kernel_partitions(df, OCR_IMAGE_S, leaf=MEDIA_REF_LEAF)
    out = salted.repartition(num_partitions, F.col(key), F.col(SALT_COL))
    return out.drop(SALT_COL)


def widen_narrow_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` ONLY when its scan is narrower than
    the cluster (fewer input partitions than cores) — the compute-skew twin
    for CPU-heavy per-row expression stages (gram explosion + md5 hashing):
    a parquet file with one row group scans as ONE task, and AQE's
    bytes-based sizing cannot see the downstream expression cost, so the
    whole stage serializes on one core.

    At real scale this is a NO-OP: a 100 TB corpus scans as thousands of
    splits, so no shuffle is added. The repartition only fires when the
    input layout under-parallelizes the stage, where the shuffled bytes
    are by construction small (they fit in the few tasks the scan made)."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
