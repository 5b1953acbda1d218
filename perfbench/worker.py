"""Spark side of the benchmark, started by perfbench/run.py (which sets the
environment: cores, driver memory, import path, event log, scratch dirs).

A workload is a closed loop with one client: each iteration runs the
extraction plan over the whole corpus and collects its output to the driver,
and the next starts when it has finished. Every iteration's output is checked
against the generator's golden ``ocr_expected.parquet``; an iteration with any
differing document counts as failed and its time is not reported.

Writes one JSON record to ``--out``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import time
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from granulate_char_ocr_spark.plans.pipeline import extract_documents
from granulate_char_ocr_spark.session import get_spark
from granulate_char_ocr_spark.sources import synthetic

# workload -> extract_documents(dedup_media=...)
#   ocr_shared: the default path; the media spans (~3 per document) share 234
#     distinct images, so recognition runs once per image and the work is
#     text normalization, the recognition join and the doc_id stitch shuffle
#   ocr_salted: every media span is decoded and classified behind the doc_id
#     salt, heavy-tail documents included (the unique-media regime)
DEDUP_MEDIA = {"ocr_shared": True, "ocr_salted": False}
# timed iterations of an untraced run, at least, even past --seconds
MIN_ITERATIONS = 3
# set-up ends with this many checked iterations over the corpus: the first
# is cold (Python worker spawn, codegen), and iteration times keep falling
# steeply for the next few; timing on that slope would let a slower run,
# which fits fewer iterations into --seconds, sit higher on it
WARMUP_ITERATIONS = 3


def canonical(row: dict) -> tuple:
    return (
        row["doc_id"],
        tuple((s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]),
    )


def load_golden(path: str) -> dict[str, tuple]:
    return dict(canonical(r) for r in pq.read_table(path).to_pylist())


def failed_docs(table, want: dict[str, tuple]) -> int:
    """Documents whose output differs from the golden one: the multiset
    difference in both directions (``exceptAll`` both ways) on (doc_id,
    spans), counted by distinct doc_id."""
    got = Counter(canonical(r) for r in table.to_pylist())
    exp = Counter(want.items())
    return len({doc_id for doc_id, _ in (got - exp) + (exp - got)})


class Corpus:
    """One generated corpus, its Spark tables and its golden output."""

    def __init__(self, spark, path: str):
        self.path = path
        self.docs = spark.read.parquet(os.path.join(path, "ocr_documents.parquet"))
        self.media = spark.read.parquet(os.path.join(path, "ocr_media.parquet"))
        self.golden = load_golden(os.path.join(path, "ocr_expected.parquet"))

    def subset(self, n: int):
        """(documents, golden) restricted to the first ``n`` documents (the
        generator names document i ``doc_%08d``)."""
        cut = f"doc_{n:08d}"
        return (
            self.docs.where(F.col("doc_id") < cut),
            {d: s for d, s in self.golden.items() if d < cut},
        )


def run_iteration(docs, media, dedup: bool, want: dict) -> tuple[float, int]:
    """(wall seconds, failed documents) of one extraction collected to the
    driver; the check runs after the clock stops."""
    t0 = time.perf_counter()
    table = extract_documents(docs, media, dedup_media=dedup).toArrow()
    wall = time.perf_counter() - t0
    return wall, failed_docs(table, want)


def set_event_log(spark, on: bool) -> None:
    """Attach or detach Spark's event-log writer (enabled for the traced run
    through PYSPARK_SUBMIT_ARGS); while detached, no events are written."""
    sc = spark.sparkContext._jsc.sc()
    writer = sc.eventLogger().get()
    if on:
        sc.listenerBus().addToEventLogQueue(writer)
    else:
        sc.listenerBus().removeListener(writer)


def measure(spark, corpus, args):
    """Timed iterations for ``--seconds``, at least MIN_ITERATIONS that
    match golden. Returns (walls, attempted documents, failed documents)."""
    walls, failed = [], 0
    deadline = time.perf_counter() + args.seconds
    for i in itertools.count():
        if len(walls) >= MIN_ITERATIONS and time.perf_counter() >= deadline:
            break
        if i >= 2 * MIN_ITERATIONS and not walls:
            break  # a wrong program gives no timings; do not loop forever
        wall, bad = run_iteration(
            corpus.docs, corpus.media, DEDUP_MEDIA[args.workload], corpus.golden
        )
        failed += bad
        if not bad:
            walls.append(wall)
    if not walls:
        raise RuntimeError("every iteration's output differed from golden")
    return walls, i * len(corpus.golden), failed


def measure_traced(spark, corpus, args):
    """The traced run's four timed iterations, with the event log on (job
    groups ``iter-*``) and off, in the order on-off-off-on so that a linear
    warm-up trend cancels between the two. Returns (traced walls, untraced
    walls, attempted documents, failed documents)."""
    traced, untraced, failed = [], [], 0
    attached = True
    order = (True, False, False, True)
    for i, on in enumerate(order):
        if on != attached:
            set_event_log(spark, on)
            attached = on
        spark.sparkContext.setJobGroup(f"iter-{i}" if on else f"untraced-{i}", "")
        wall, bad = run_iteration(
            corpus.docs, corpus.media, DEDUP_MEDIA[args.workload], corpus.golden
        )
        failed += bad
        if not bad:
            (traced if on else untraced).append(wall)
    if not traced or not untraced:
        raise RuntimeError("every traced or untraced iteration differed from golden")
    return traced, untraced, len(order) * len(corpus.golden), failed


def set_up(args):
    """The run's set-up, timed as one: session start, corpus generation,
    golden load and WARMUP_ITERATIONS checked iterations over the corpus.
    Returns (session, corpus, {"total", "start", "write"} seconds)."""
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(args.work, "corpus")
    t1 = time.perf_counter()
    synthetic.write_corpus(path, args.docs, seed=args.seed)
    write_s = time.perf_counter() - t1
    corpus = Corpus(spark, path)
    spark.sparkContext.setJobGroup("setup", "warm-up")
    for _ in range(WARMUP_ITERATIONS):
        _, bad = run_iteration(
            corpus.docs, corpus.media, DEDUP_MEDIA[args.workload], corpus.golden
        )
        if bad:
            raise RuntimeError(f"warm-up iteration: {bad} documents differ from golden")
    rec = {"total": time.perf_counter() - t0, "start": start_s, "write": write_s}
    return spark, corpus, rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(DEDUP_MEDIA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--events", help="event log dir: traced run")
    args = ap.parse_args()

    spark, corpus, setup = set_up(args)

    if args.events:
        walls, untraced, attempted, failed = measure_traced(spark, corpus, args)
    else:
        walls, attempted, failed = measure(spark, corpus, args)

    res = {
        "docs": len(corpus.golden),
        "wall_s": statistics.median(walls),
        "iteration_s": walls,
        "setup_s": setup["total"],
    }
    if args.events:
        from layers import trace_layers  # perfbench/layers.py

        layers, l_attempted, l_failed = trace_layers(spark, corpus, args, setup)
        layers["trace.overhead_ratio"] = res["wall_s"] / statistics.median(untraced)
        res.update(layers=layers, untraced_iteration_s=untraced)
        attempted += l_attempted
        failed += l_failed
    else:
        spark.stop()
    res.update(attempted=attempted, failed=failed)
    with open(args.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
