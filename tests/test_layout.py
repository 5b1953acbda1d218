"""The layout rule of the Python-kernel stages (operators/skew.kernel_partitions):
its bounds and fallbacks without Spark, and the task count the extraction
kernel stage really runs with."""

from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from granulate_char_ocr_spark.operators import skew
from granulate_char_ocr_spark.operators.skew import kernel_partitions

CORES = 4
CAP = skew.MAX_TASKS_PER_CORE * CORES


def _df(*files):
    """The two things kernel_partitions asks of a DataFrame."""
    ctx = SimpleNamespace(defaultParallelism=CORES)
    return SimpleNamespace(
        inputFiles=lambda: list(files),
        sparkSession=SimpleNamespace(sparkContext=ctx),
    )


def _parquet(path, n):
    pq.write_table(pa.table({"x": list(range(n))}), str(path))
    return f"file://{path}"


def test_kernel_partitions_bounds_and_monotone(tmp_path):
    s_per_row = skew.MIN_TASK_WORK_S / 100  # 100 rows fill one task
    got = [
        kernel_partitions(_df(_parquet(tmp_path / f"{n}.parquet", n)), s_per_row)
        for n in (0, 1, 99, 100, 250, 800, 1600, 5000, 100000)
    ]
    assert got[0] == 1 and got[-1] == CAP
    assert all(1 <= g <= CAP for g in got)
    assert got == sorted(got), got
    assert got[3:6] == [1, 2, 8]
    # pairwise work: 100 rows are 4950 pairs
    pairs = _df(_parquet(tmp_path / "p.parquet", 100))
    assert kernel_partitions(pairs, skew.MIN_TASK_WORK_S / 1000, pairwise=True) == 4


def test_kernel_partitions_counts_leaf_values(tmp_path):
    spans = pa.array(
        [[{"m": "a"}, {"m": None}], [], None, [{"m": "b"}, {"m": "c"}]],
        pa.list_(pa.struct([("m", pa.string())])),
    )
    path = tmp_path / "docs.parquet"
    pq.write_table(pa.table({"spans": spans}), str(path), row_group_size=2)
    s_per_row = skew.MIN_TASK_WORK_S  # one row fills one task
    docs = _df(str(path))
    assert kernel_partitions(docs, s_per_row, leaf="spans.list.element.m") == 3
    assert kernel_partitions(docs, s_per_row) == 4  # rows


def test_kernel_partitions_falls_back_to_cap(tmp_path):
    s = skew.OCR_IMAGE_S
    good = _parquet(tmp_path / "t.parquet", 10)
    text = tmp_path / "t.json"
    text.write_text("{}")
    assert kernel_partitions(_df(), s) == CAP  # no file scan
    assert kernel_partitions(_df(good, str(text)), s) == CAP  # not parquet
    assert kernel_partitions(_df("hdfs://nn/t.parquet"), s) == CAP
    assert kernel_partitions(_df(good), s, leaf="no.such.leaf") == CAP
    assert kernel_partitions(_df(good), s) == 1


def test_kernel_partitions_stops_reading_at_cap(tmp_path, monkeypatch):
    big = _parquet(tmp_path / "big.parquet", 1000)
    reads = []
    real = skew._footer_rows
    monkeypatch.setattr(
        skew, "_footer_rows", lambda uri, leaf: reads.append(uri) or real(uri, leaf)
    )
    s_per_row = skew.MIN_TASK_WORK_S  # one row fills one task
    assert kernel_partitions(_df(big, big, big), s_per_row) == CAP
    assert reads == [big]


@pytest.fixture(scope="module")
def parquet_corpus(spark, tmp_path_factory):
    from granulate_char_ocr_spark.plans.pipeline import explode_spans
    from granulate_char_ocr_spark.sources import synthetic

    path = tmp_path_factory.mktemp("layout")
    synthetic.write_corpus(str(path), 40, seed=5)
    docs = spark.read.parquet(str(path / "ocr_documents.parquet"))
    media = spark.read.parquet(str(path / "ocr_media.parquet"))
    spans = explode_spans(docs).filter(F.col("kind") == "media")
    return spans.select("doc_id", "offset", "media_ref"), F.broadcast(media)


def _kernel_stage(path, spans, media):
    """(the rule's count, the input DataFrame of the extraction kernel)."""
    from granulate_char_ocr_spark.operators.extract import (
        extract_media_spans,
        extract_unique_media,
    )
    from granulate_char_ocr_spark.plans.pipeline import unique_media_repartitioned

    if path == "dedup":
        want = kernel_partitions(media, skew.OCR_IMAGE_S)
        uniq = unique_media_repartitioned(spans, media)
        return want, extract_unique_media(uniq, detail=False)
    want = kernel_partitions(spans, skew.OCR_IMAGE_S, leaf=skew.MEDIA_REF_LEAF)
    joined = skew.salt_repartition(spans).join(media, "media_ref", "left")
    return want, extract_media_spans(joined, detail=False)


@pytest.mark.parametrize("path", ["dedup", "salted"])
@pytest.mark.parametrize("target", ["shuffle_partitions", "cap"])
def test_kernel_stage_runs_with_rule_count(
    spark, parquet_corpus, monkeypatch, path, target
):
    """With AQE on, the kernel stage's task count after its input shuffles
    ran is the rule's count — also when that count equals
    spark.sql.shuffle.partitions (where a repartition above the distinct's
    exchange is dropped and AQE coalesces) and when a large estimate hits
    the cap."""
    spans, media = parquet_corpus
    estimate = media if path == "dedup" else spans
    leaf = None if path == "dedup" else skew.MEDIA_REF_LEAF
    rows = sum(skew._footer_rows(f, leaf) for f in estimate.inputFiles())
    cap = skew.MAX_TASKS_PER_CORE * spark.sparkContext.defaultParallelism
    n = (
        int(spark.conf.get("spark.sql.shuffle.partitions"))
        if target == "shuffle_partitions"
        else 10 * cap
    )
    # the work of `rows` rows fills n tasks and a half
    monkeypatch.setattr(
        skew, "MIN_TASK_WORK_S", rows * skew.OCR_IMAGE_S / (n + 0.5)
    )
    want, stage = _kernel_stage(path, spans, media)
    assert want == min(n, cap)
    assert stage.rdd.getNumPartitions() == want
