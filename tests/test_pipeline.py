"""End-to-end extraction pipeline tests: span-sequence equality (kind, text,
media_ref, order) == 100% vs the golden fixtures (BASELINE.json input_hint),
plus shuffle-invariance and skew plumbing."""

import pytest
from pyspark.sql import functions as F

from granulate_char_ocr_spark.plans.lineage import evaluate, partition_lineage
from granulate_char_ocr_spark.plans.pipeline import extract_documents, extract_flat
from granulate_char_ocr_spark.sources.synthetic import corpus_spark

N_DOCS = 120  # includes one heavy-tail doc (index 7)


@pytest.fixture(scope="module")
def corpus(spark):
    docs, media, expected = corpus_spark(spark, N_DOCS, seed=42)
    return docs.cache(), media.cache(), expected.cache()


def _as_map(rows):
    return {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in rows}


def test_span_sequence_equality(spark, corpus):
    docs, media, expected = corpus
    got = _as_map(extract_documents(docs, media).collect())
    exp = _as_map(expected.collect())
    assert set(got) == set(exp)
    mismatches = {d: (got[d], exp[d]) for d in exp if got[d] != exp[d]}
    assert not mismatches, list(mismatches.items())[:2]


def test_equality_survives_repartition(spark, corpus):
    """Order restored by key, not partition luck (SURVEY §7 R1)."""
    docs, media, expected = corpus
    shuffled = docs.repartition(13)
    got = _as_map(extract_documents(shuffled, media, n_salts=5).collect())
    exp = _as_map(expected.collect())
    assert got == exp


def test_dedup_and_salted_paths_agree(spark, corpus):
    """dedup_media=True (distinct-image classify + join back) must produce
    exactly the salted per-span path's output — and both must equal golden."""
    docs, media, expected = corpus
    dedup = _as_map(extract_documents(docs, media, dedup_media=True).collect())
    salted = _as_map(
        extract_documents(docs, media, dedup_media=False, n_salts=4).collect()
    )
    exp = _as_map(expected.collect())
    assert dedup == salted == exp


def test_heavy_doc_extracted(spark, corpus):
    docs, media, expected = corpus
    heavy_id = "doc_00000007"
    row = (
        extract_documents(docs, media)
        .filter(F.col("doc_id") == heavy_id)
        .collect()[0]
    )
    exp = expected.filter(F.col("doc_id") == heavy_id).collect()[0]
    assert len(row["spans"]) >= 50
    assert [tuple(s) for s in row["spans"]] == [tuple(s) for s in exp["spans"]]


def test_evaluate_metrics_all_perfect(spark, corpus):
    docs, media, expected = corpus
    extracted = extract_documents(docs, media)
    m = evaluate(extracted, expected).collect()[0]
    assert m["n_docs"] == N_DOCS
    assert m["span_equality"] == 1.0
    assert m["char_accuracy"] == 1.0
    assert m["word_accuracy"] == 1.0
    assert m["perfect_docs"] == N_DOCS


def test_evaluate_char_accuracy_counts_length_mismatch(spark):
    """ADVICE r1: expected 'TEAM' vs recognized 'T' must score 0.25 (the
    reference's correct / max(len_exp, len_got)), not 1.0 — a left char join
    silently dropped the missing tail."""

    def spans_df(text):
        return spark.createDataFrame(
            [("d1", [{"kind": "media", "text": text, "media_ref": "m", "order": 0}])],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,`order`:int>>",
        )

    m = evaluate(spans_df("T"), spans_df("TEAM")).collect()[0]
    assert m["char_accuracy"] == 0.25
    assert m["span_equality"] == 0.0
    # extra recognized chars count against accuracy too
    m2 = evaluate(spans_df("TEAMXX"), spans_df("TEAM")).collect()[0]
    assert abs(m2["char_accuracy"] - 4 / 6) < 1e-12


def test_partition_lineage_covers_all_docs(spark, corpus):
    docs, media, expected = corpus
    flat = extract_flat(docs, media)
    rows = partition_lineage(flat, run_id="t", snapshot_id="s").collect()
    assert sum(r["n_text_spans"] + r["n_media_spans"] for r in rows) == (
        flat.count()
    )
    assert all(r["run_id"] == "t" and r["input_snapshot_id"] == "s" for r in rows)
    assert len({r["partition_hash"] for r in rows}) == len(rows)
    assert all(r["char_accuracy"] is None for r in rows)  # no expectation given
    # distribution stats (evaluation-record parity): exact percentiles over
    # the partition's span lengths, so p50 <= p90 and both within range
    for r in rows:
        assert r["p50_chars"] <= r["p90_chars"]
        assert 0 <= r["p50_chars"] and r["p90_chars"] <= r["n_chars"]

    # with the golden expectation: every media-bearing partition scores 1.0
    rows2 = partition_lineage(
        flat, run_id="t", snapshot_id="s", expected=expected, elapsed_ms=123
    ).collect()
    assert all(
        r["char_accuracy"] == 1.0
        for r in rows2
        if r["n_media_spans"] > 0
    ), rows2
    assert all(r["elapsed_ms"] == 123 for r in rows2)


def test_extract_flat_media_details(spark, corpus):
    docs, media, _ = corpus
    flat = extract_flat(docs, media).filter(F.col("kind") == "media")
    row = flat.filter(F.size("chars") > 3).limit(1).collect()[0]
    chars = row["chars"]
    assert [c["char_order"] for c in chars] == list(range(len(chars)))
    assert all(c["method"] == "exact_hash" and c["confidence"] == 1.0 for c in chars)
    assert row["text"] == "".join(c["latin"] for c in chars)
    assert row["avg_confidence"] == 1.0
