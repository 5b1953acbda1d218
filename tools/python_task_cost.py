"""Fixed cost of one Python-UDF task where it runs: the identity mapInPandas
over the same rows at n = cores and n = 16 x cores partitions; the time
difference over the extra tasks is the per-task set-up a Python kernel stage
pays before its UDF runs (operators/skew.PYTHON_TASK_S cites this tool).

Usage: python tools/python_task_cost.py   (cores from $SPARK_GRAFT_CPUS)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from granulate_char_ocr_spark.session import get_spark  # noqa: E402


def zipimporters(batches):
    """The zipimporters of the worker's sys.path entries: pyspark's worker
    set-up calls importlib.invalidate_caches(), which makes each one re-read
    its archive's directory, once per task."""
    import zipimport

    import pandas as pd

    for _ in batches:
        cache = sys.path_importer_cache.values()
        n = sum(isinstance(f, zipimport.zipimporter) for f in cache)
        yield pd.DataFrame({"n": [n]})


def timed(spark, n: int, repeats: int = 3) -> float:
    df = spark.range(6000, numPartitions=n).mapInPandas(lambda it: it, "id long")
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    spark = get_spark(app_name="python-task-cost")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    timed(spark, cores)  # spawn the Python workers before timing
    lo, hi = timed(spark, cores), timed(spark, 16 * cores)
    # 15 x cores extra tasks ran on `cores` workers: their CPU is wall x cores
    per_task = (hi - lo) * cores / (15 * cores)
    zips = spark.range(1).mapInPandas(zipimporters, "n int").first()["n"]
    print(f"cores={cores} n={cores}: {lo:.2f} s  n={16 * cores}: {hi:.2f} s")
    print(f"fixed cost per Python task: {per_task:.3f} s of worker CPU")
    print(f"zipimporters on the worker's sys.path: {zips}")
    spark.stop()


if __name__ == "__main__":
    main()
