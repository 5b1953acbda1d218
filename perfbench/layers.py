"""Per-layer metrics of the traced run, measured from outside the package:
each probe times one call into a layer's public function on the workload's
corpus, and Spark's own event log gives the stage metrics of the workload's
timed iterations. perfbench/README.md says which end-to-end metric each one
should move.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from granulate_char_ocr_spark.functions import kernels
from granulate_char_ocr_spark.functions.text import (
    ASCII_ONLY_RE,
    normalize_expr,
    normalize_jvm_expr,
)
from granulate_char_ocr_spark.operators.extract import (
    extract_media_spans,
    extract_unique_media,
)
from granulate_char_ocr_spark.operators.skew import salt_repartition
from granulate_char_ocr_spark.operators.stitch import FLAT_COLS, assemble_documents
from granulate_char_ocr_spark.plans import resume
from granulate_char_ocr_spark.plans.lineage import partition_lineage
from granulate_char_ocr_spark.plans.pipeline import (
    explode_spans,
    extract_flat,
    unique_media_repartitioned,
)
from granulate_char_ocr_spark.session import get_spark
from granulate_char_ocr_spark.sources.tables import manifest_snapshot_id
from worker import Corpus, failed_docs, run_iteration

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from check_oracles import compare  # noqa: E402

# operators.dedup / sampling / textstats leaves of driver_queries, each run
# once on the sf0.01 test tables' documents and embeddings (TESTDATA.md),
# copied unchanged into this directory
LEAF_TABLES = os.path.join(HERE, "data_sf0.01")
CORPUS_LEAVES = (
    "dedup_embedding_cosine",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "simhash_near_pairs",
    "dsir_select_docs",
    "winnow_fingerprints_docs",
    "charlm_perplexity_docs",
)
KERNEL_REPEATS = 5
JOB_BUCKETS = 16  # run_with_resume's default
SCALING_DOCS = 500


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _noop(df) -> None:
    """Full-compute sink: every row is produced, nothing is kept."""
    df.write.format("noop").mode("overwrite").save()


def kernel_layers(media_path: str) -> dict[str, float]:
    """functions.kernels on the media store's images in this process: the
    per-image preprocess and segmentation and the per-crop classification
    that the extraction kernel runs per Arrow batch (median of repeats)."""
    rows = pq.read_table(media_path, columns=["width", "height", "pixels"]).to_pylist()
    images = [
        np.frombuffer(r["pixels"], np.uint8).reshape(r["height"], r["width"])
        for r in rows
    ]
    pre_s, seg_s, cls_s = [], [], []
    for _ in range(KERNEL_REPEATS):
        t0 = time.perf_counter()
        pre = [kernels.preprocess(img) for img in images]
        t1 = time.perf_counter()
        regions = [kernels.segment_regions(p) for p in pre]
        t2 = time.perf_counter()
        crops = [
            p[y : y + h, x : x + w]
            for p, regs in zip(pre, regions)
            for (x, y, w, h) in regs
        ]
        t3 = time.perf_counter()
        kernels.classify_batch_cascade(crops)
        t4 = time.perf_counter()
        pre_s.append(t1 - t0)
        seg_s.append(t2 - t1)
        cls_s.append(t4 - t3)
    n = len(images)
    return {
        "kernels.preprocess_us": statistics.median(pre_s) / n * 1e6,
        "kernels.segment_us": statistics.median(seg_s) / n * 1e6,
        "kernels.classify_us_per_crop": statistics.median(cls_s) / len(crops) * 1e6,
        "kernels.crops_per_image": len(crops) / n,
    }


def operator_layers(spark, docs, media) -> dict[str, float]:
    """plans.pipeline, functions.text, operators.skew / extract / stitch,
    each timed into a full-compute sink over persisted inputs."""
    out = {}
    spans = explode_spans(docs)
    media_spans = (
        spans.filter(F.col("kind") == "media")
        .select("doc_id", "offset", "media_ref")
        .persist()
    )
    text_spans = spans.filter(F.col("kind") == "text").select("doc_id", "text").persist()
    n_media, n_images = media_spans.agg(
        F.count("*"), F.countDistinct("media_ref")
    ).first()
    n_text, n_ascii = text_spans.agg(
        F.count("*"), F.sum(F.col("text").rlike(ASCII_ONLY_RE).cast("long"))
    ).first()
    out["pipeline.dedup_ratio"] = n_images / n_media
    out["text.non_ascii_ratio"] = 1 - n_ascii / n_text

    # extract_flat is timed into the cache the stitch probe then reads
    flat = extract_flat(docs, media, detail=False).select(*FLAT_COLS).persist()
    out["pipeline.extract_flat_s"] = _timed(flat.count)
    # the plan split extract_flat runs: ASCII spans normalize in the JVM,
    # the rest through the NFC pandas UDF
    is_ascii = F.col("text").rlike(ASCII_ONLY_RE)
    normalized = text_spans.filter(is_ascii).select(
        "doc_id", normalize_jvm_expr(F.col("text")).alias("text")
    ).unionByName(
        text_spans.filter(~F.coalesce(is_ascii, F.lit(False))).select(
            "doc_id", normalize_expr(F.col("text")).alias("text")
        )
    )
    out["text.normalize_s"] = _timed(lambda: _noop(normalized))

    salted = salt_repartition(media_spans)
    out["skew.salt_repartition_s"] = _timed(lambda: _noop(salted))
    rows = dict(salted.groupBy(F.spark_partition_id()).count().collect())
    per_part = [rows.get(p, 0) for p in range(salted.rdd.getNumPartitions())]
    out["skew.max_over_median_rows"] = max(per_part) / max(
        statistics.median(per_part), 1
    )

    joined = salted.join(F.broadcast(media), "media_ref", "left")
    out["extract.media_spans_s"] = _timed(
        lambda: _noop(extract_media_spans(joined, detail=False))
    )
    uniq = unique_media_repartitioned(media_spans, F.broadcast(media)).persist()
    uniq.count()
    out["extract.unique_media_s"] = _timed(
        lambda: _noop(extract_unique_media(uniq, detail=False))
    )

    out["stitch.assemble_s"] = _timed(lambda: _noop(assemble_documents(flat)))
    for df in (media_spans, text_spans, uniq, flat):
        df.unpersist()
    return out


def job_layers(spark, corpus, out_dir: str) -> tuple[dict[str, float], int]:
    """plans.resume and plans.lineage as jobs/extract_job.py runs them: a
    first call killed after half the buckets, a resume for the rest, a call
    with every bucket committed, then lineage rows over the written output.
    Returns the metrics and the number of written documents that differ
    from golden."""
    out = {}

    def run(only=None):
        return resume.run_with_resume(
            spark, corpus.docs, corpus.media, out_dir,
            n_buckets=JOB_BUCKETS, only_buckets=only,
        )

    out["resume.first_half_s"] = _timed(lambda: run(range(JOB_BUCKETS // 2)))
    out["resume.resume_rest_s"] = _timed(run)
    t0 = time.perf_counter()
    again = run()
    out["resume.committed_noop_s"] = time.perf_counter() - t0
    if again:
        raise RuntimeError(f"resume re-ran committed buckets {again}")
    extracted = os.path.join(out_dir, "extracted")
    out["resume.bytes_written"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(extracted)
        for f in files
    )
    bad = failed_docs(resume.read_output(spark, out_dir).toArrow(), corpus.golden)

    flat = (
        spark.read.parquet(extracted)
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            "s.kind",
            "s.text",
            "s.media_ref",
            F.length("s.text").alias("n_chars"),
        )
    )
    snapshot = manifest_snapshot_id(os.path.join(corpus.path, "ocr_documents.parquet"))
    t0 = time.perf_counter()
    rows = partition_lineage(flat, run_id="perfbench", snapshot_id=snapshot).collect()
    out["lineage.partition_lineage_s"] = time.perf_counter() - t0
    out["lineage.rows"] = len(rows)
    return out, bad


def leaf_layers(spark) -> tuple[dict[str, float], int]:
    """One ``<leaf>_s`` per corpus-kernel leaf, each result compared with its
    DuckDB oracle (computed before any leaf is timed). Returns the metrics
    and the number of leaves whose rows differ from the oracle."""
    import duckdb

    from granulate_char_ocr_spark import driver_queries as dq

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{LEAF_TABLES}/{t}.parquet'")
    sql = {leaf: dq.ORACLES.get(leaf) for leaf in CORPUS_LEAVES}
    sql["winnow_fingerprints_docs"] = dq.WINNOW_ORACLE  # gate-demoted leaf
    oracle = {leaf: con.execute(q).df() for leaf, q in sql.items()}
    con.close()
    out, bad = {}, 0
    for leaf in CORPUS_LEAVES:
        fn = dq.QUERIES.get(leaf) or getattr(dq, leaf)
        t0 = time.perf_counter()
        got = fn(spark, LEAF_TABLES).toPandas()
        out[f"{leaf}_s"] = time.perf_counter() - t0
        errs = compare(leaf, got, oracle[leaf])
        if errs:
            print(f"perfbench: {leaf} differs from its oracle: {errs}", file=sys.stderr)
            bad += 1
    return out, bad


def stage_layers(events_dir: str, app_id: str) -> dict[str, float]:
    """Spark stage metrics of the timed iterations (job groups ``iter-*``),
    from the application's event log; per iteration, then the median.
    ``spark.task_max_over_median`` is taken in each iteration's heaviest
    stage (largest summed executor run time)."""
    group_of_stage: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    with open(os.path.join(events_dir, app_id)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                if group.startswith("iter-"):
                    for sid in ev["Stage IDs"]:
                        group_of_stage[sid] = group
            elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])
    per_iter: dict[str, dict[int, list[dict]]] = {}
    for sid, group in group_of_stage.items():
        if sid in tasks:
            per_iter.setdefault(group, {})[sid] = tasks[sid]
    n_tasks, skew, shuffle, spill = [], [], [], []
    for stages in per_iter.values():
        all_tasks = [t for ts in stages.values() for t in ts]
        n_tasks.append(len(all_tasks))
        shuffle.append(
            sum(t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in all_tasks)
        )
        spill.append(
            sum(t["Memory Bytes Spilled"] + t["Disk Bytes Spilled"] for t in all_tasks)
        )
        heavy = max(
            stages.values(), key=lambda ts: sum(t["Executor Run Time"] for t in ts)
        )
        run = [t["Executor Run Time"] for t in heavy]
        skew.append(max(run) / max(statistics.median(run), 1))
    return {
        "spark.tasks": statistics.median(n_tasks),
        "spark.task_max_over_median": statistics.median(skew),
        "spark.shuffle_write_bytes": statistics.median(shuffle),
        "spark.spill_bytes": statistics.median(spill),
    }


def scaling_efficiency(spark, corpus, cpus: int):
    """N-vs-4N scaling of ocr_salted on the corpus' first SCALING_DOCS
    documents: (time at N cores) / (4 x time at 4N cores), 1.0 = linear.
    The 4N side runs in the current (warm) session, the N side in a fresh
    one after a warm-up. Returns (efficiency, failed documents, the N-core
    session)."""
    n = max(1, cpus // 4)
    docs, want = corpus.subset(SCALING_DOCS)
    t_4n, bad_4n = run_iteration(docs, corpus.media, False, want)
    spark.stop()
    spark = get_spark(
        app_name="perfbench-scaling", master=f"local[{n}]", shuffle_partitions=n
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus = Corpus(spark, corpus.path)
    warm_docs, warm_want = corpus.subset(SCALING_DOCS // 8)
    run_iteration(warm_docs, corpus.media, False, warm_want)
    docs, want = corpus.subset(SCALING_DOCS)
    t_n, bad_n = run_iteration(docs, corpus.media, False, want)
    return t_n / (4 * t_4n), bad_4n + bad_n, spark


def trace_layers(spark, corpus, args, setup: dict):
    """Every per-layer metric except ``trace.overhead_ratio`` (run.py forms
    it from the untraced run). Returns (metrics, attempted, failed); the
    attempts are documents plus one per corpus-kernel leaf."""
    sc = spark.sparkContext
    sc.setJobGroup("probe", "per-layer probes")
    layers = {
        "session.start_s": setup["start"],
        "sources.write_corpus_s": setup["write"],
    }
    t0 = time.perf_counter()

    def done(what):
        print(f"perfbench: {what} probes done at {time.perf_counter() - t0:.1f} s",
              file=sys.stderr, flush=True)

    layers.update(kernel_layers(os.path.join(corpus.path, "ocr_media.parquet")))
    done("kernel")
    layers.update(operator_layers(spark, corpus.docs, corpus.media))
    done("operator")
    job, bad_job = job_layers(spark, corpus, os.path.join(args.work, "job"))
    layers.update(job)
    done("job")
    leaves, bad_leaves = leaf_layers(spark)
    layers.update(leaves)
    done("leaf")
    app_id = sc.applicationId
    cpus = sc.defaultParallelism
    eff, bad_scaling, spark = scaling_efficiency(spark, corpus, cpus)
    layers["scaling.efficiency_n_4n"] = eff
    spark.stop()
    done("scaling")
    layers.update(stage_layers(args.events, app_id))
    attempted = len(corpus.golden) + min(SCALING_DOCS, args.docs) * 2 + len(CORPUS_LEAVES)
    return layers, attempted, bad_job + bad_leaves + bad_scaling
