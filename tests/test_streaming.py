"""Structured Streaming analog: per-span recognition over a stream, bounded
per-key history state, and the foreachBatch stitch."""

import time

import pytest
from pyspark.sql import functions as F

from granulate_char_ocr_spark.sources.synthetic import (
    glyph_media_pandas,
    media_ref_for,
)
from granulate_char_ocr_spark.streaming import stream as gstream


@pytest.fixture(scope="module")
def media_pd():
    return glyph_media_pandas()


def _await_rows(spark, query, sql, want, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        got = spark.sql(sql).collect()
        if len(got) >= want:
            query.stop()
            return got
        time.sleep(0.5)
    query.stop()
    raise AssertionError(f"timed out waiting for {want} rows")


def test_recognize_stream_append(spark, media_pd, tmp_path):
    # replay a small span stream from files (file source = deterministic)
    src = str(tmp_path / "src")
    refs = [media_ref_for("PLEASURE", 0), media_ref_for("A", 1)]
    batch = spark.createDataFrame(
        [("d1", 1, refs[0]), ("d1", 2, refs[1]), ("d2", 1, refs[0])],
        "doc_id string, offset int, media_ref string",
    )
    media = spark.createDataFrame(
        media_pd, "media_ref string, word string, width int, height int, pixels binary"
    )
    batch.join(media, "media_ref").write.mode("overwrite").parquet(src)

    spans_stream = spark.readStream.schema(
        "media_ref string, doc_id string, offset int, word string, "
        "width int, height int, pixels binary"
    ).parquet(src)
    rec = gstream.recognize_stream(spans_stream)
    q = (
        rec.writeStream.format("memory")
        .queryName("rec_out")
        .outputMode("append")
        .start()
    )
    rows = _await_rows(spark, q, "SELECT * FROM rec_out", 3)
    got = {(r["doc_id"], r["offset"]): r["text"] for r in rows}
    assert got[("d1", 1)] == "PLEASURE"
    assert got[("d1", 2)] == "A"
    assert got[("d2", 1)] == "PLEASURE"


def test_keep_last_n_state(spark, tmp_path):
    src = str(tmp_path / "hist_src")
    spark.createDataFrame(
        [("d1", i, f"t{i}") for i in range(7)],
        "doc_id string, offset int, text string",
    ).write.mode("overwrite").parquet(src)
    spans = spark.readStream.schema(
        "doc_id string, offset int, text string"
    ).parquet(src)
    hist = gstream.keep_last_n(spans, n=5)
    q = (
        hist.writeStream.format("memory")
        .queryName("hist_out")
        .outputMode("update")
        .start()
    )
    rows = _await_rows(spark, q, "SELECT * FROM hist_out", 1)
    assert rows[-1]["history"] == ["t2", "t3", "t4", "t5", "t6"]  # last 5


def test_windowed_span_stats_watermark(spark, tmp_path):
    """Watermarked tumbling-window agg: counts land in their event-time
    window; append mode emits only watermark-finalized windows."""
    src = str(tmp_path / "win_src")
    rows = [
        ("d1", "media", 4, "2026-01-01 00:00:10"),
        ("d1", "media", 2, "2026-01-01 00:00:50"),
        ("d2", "text", 9, "2026-01-01 00:01:10"),
        # far-future row advances the watermark past the earlier windows
        ("d3", "media", 1, "2026-01-01 00:30:00"),
    ]
    spark.createDataFrame(
        rows, "doc_id string, kind string, n_chars int, ts string"
    ).withColumn("event_time", F.col("ts").cast("timestamp")).drop(
        "ts"
    ).write.mode("overwrite").parquet(src)
    flat = spark.readStream.schema(
        "doc_id string, kind string, n_chars int, event_time timestamp"
    ).parquet(src)
    agg = gstream.windowed_span_stats(flat)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .start()
    )
    rows = _await_rows(
        spark, q, "SELECT * FROM win_out WHERE n_spans IS NOT NULL", 2
    )
    got = {
        (r["window"]["start"].strftime("%H:%M"), r["kind"]): (
            r["n_spans"],
            r["n_chars"],
        )
        for r in rows
    }
    assert got[("00:00", "media")] == (2, 6)  # both first-minute media spans
    assert got[("00:01", "text")] == (1, 9)


def test_streaming_extraction_end_to_end_matches_golden(spark, tmp_path):
    """The streaming twin of the batch verify: replay a corpus's media spans
    as a file stream, recognize each span with the streaming operator,
    stitch via foreachBatch, and the assembled spans must equal the golden
    expectation exactly."""
    from granulate_char_ocr_spark.sources.synthetic import corpus_spark

    docs, media, expected = corpus_spark(spark, 20, seed=42)
    src = str(tmp_path / "s_src")
    out = str(tmp_path / "s_out")
    ckpt = str(tmp_path / "s_ckpt")
    spans = docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    spans.filter(F.col("kind") == "media").join(
        media.drop("word"), "media_ref"
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "media_ref string, doc_id string, offset int, "
        "width int, height int, pixels binary"
    ).parquet(src)
    rec = gstream.recognize_stream(stream).select(
        "doc_id", "offset", F.lit("media").alias("kind"), "text", "media_ref"
    )
    q = gstream.assemble_stream(rec, out, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = spark.read.parquet(out).select("doc_id", F.explode("spans").alias("s"))
    exp = expected.select("doc_id", F.explode("spans").alias("s")).filter(
        F.col("s.kind") == "media"
    )
    got_rows = {
        (r["doc_id"], r["s"]["media_ref"], r["s"]["text"]) for r in got.collect()
    }
    exp_rows = {
        (r["doc_id"], r["s"]["media_ref"], r["s"]["text"]) for r in exp.collect()
    }
    assert got_rows == exp_rows and len(exp_rows) > 0


def test_dedupe_stream_once_per_key(spark, tmp_path):
    src = str(tmp_path / "dd_src")
    rows = [
        ("m1", "2026-01-01 00:00:01"),
        ("m1", "2026-01-01 00:00:02"),  # duplicate key within watermark
        ("m2", "2026-01-01 00:00:03"),
        ("m2", "2026-01-01 00:00:03"),
    ]
    spark.createDataFrame(rows, "media_ref string, ts string").withColumn(
        "event_time", F.col("ts").cast("timestamp")
    ).drop("ts").write.mode("overwrite").parquet(src)
    spans = spark.readStream.schema(
        "media_ref string, event_time timestamp"
    ).parquet(src)
    q = (
        gstream.dedupe_stream(spans)
        .writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .start()
    )
    rows = _await_rows(spark, q, "SELECT * FROM dd_out", 2)
    assert sorted(r["media_ref"] for r in rows) == ["m1", "m2"]


def test_assemble_stream_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "fb_src")
    out = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")
    spark.createDataFrame(
        [("d1", 2, "text", "B", None), ("d1", 1, "text", "A", None)],
        "doc_id string, offset int, kind string, text string, media_ref string",
    ).write.mode("overwrite").parquet(src)
    flat = spark.readStream.schema(
        "doc_id string, offset int, kind string, text string, media_ref string"
    ).parquet(src)
    q = gstream.assemble_stream(flat, out, ckpt).start()
    deadline = time.time() + 60
    while time.time() < deadline:
        try:
            rows = spark.read.parquet(out).collect()
            if rows:
                break
        except Exception:
            pass
        time.sleep(0.5)
    q.stop()
    [r] = rows
    assert [s["text"] for s in r["spans"]] == ["A", "B"]  # offset order
    assert [s["order"] for s in r["spans"]] == [0, 1]


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream time-interval join (the streaming twin of
    temporal.range_join): replayed streams must produce exactly the pairs
    the equivalent batch inequality join produces."""
    lsrc, rsrc = str(tmp_path / "ij_l"), str(tmp_path / "ij_r")
    views = [
        (1, 7, "2026-01-01 00:00:00"),
        (2, 7, "2026-01-01 01:30:00"),
        (3, 8, "2026-01-01 00:10:00"),
    ]
    purchases = [
        (10, 7, "2026-01-01 00:30:00"),  # inside view 1's hour
        (11, 7, "2026-01-01 01:30:00"),  # == view 2 ts (inclusive start)
        (12, 7, "2026-01-01 02:30:00"),  # == view 2 end (exclusive)
        (13, 8, "2026-01-01 00:05:00"),  # before view 3 -> no match
        (14, 9, "2026-01-01 00:20:00"),  # key absent on left
    ]

    def _write(rows, path):
        spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, ts string"
        ).withColumn("event_time", F.col("ts").cast("timestamp")).drop(
            "ts"
        ).write.mode("overwrite").parquet(path)

    _write(views, lsrc)
    _write(purchases, rsrc)
    schema = "event_id bigint, user_id bigint, event_time timestamp"
    joined = gstream.interval_join_stream(
        spark.readStream.schema(schema).parquet(lsrc),
        spark.readStream.schema(schema).parquet(rsrc),
        by="user_id",
        on="event_time",
        window="1 hour",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_out")
        .outputMode("append")
        .start()
    )
    rows = _await_rows(
        spark, q, "SELECT l_event_id, r_event_id FROM ij_out", 2
    )
    got = {(r["l_event_id"], r["r_event_id"]) for r in rows}
    # the claimed equivalence: run the BATCH range join on the same rows
    from granulate_char_ocr_spark.operators import temporal

    ms = lambda p, c: spark.read.parquet(p).select(
        F.col("event_id").alias(c),
        "user_id",
        F.unix_millis("event_time").alias(f"{c}_ms"),
    )
    w = 3600 * 1000
    batch = temporal.range_join(
        ms(rsrc, "r_id"),
        ms(lsrc, "l_id").select(
            "l_id",
            "user_id",
            F.col("l_id_ms").alias("lo"),
            (F.col("l_id_ms") + w).alias("hi"),
        ),
        point_on="r_id_ms",
        start_on="lo",
        end_on="hi",
        by=["user_id"],
        bucket_width=w,
    )
    want = {(r["l_id"], r["r_id"]) for r in batch.collect()}
    assert got == want == {(1, 10), (2, 11)}
