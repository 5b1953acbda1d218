"""Self-check of the benchmark: runs every workload once untraced and once
traced on a tiny corpus, and checks that

* the workloads run.py accepts are exactly those in BENCHMARK.json;
* each result line has exactly the contract's keys, every document matched
  golden (``failed == 0``), and the metric names and units printed are
  exactly BENCHMARK.json's ``end_to_end`` (untraced) or ``per_layer``
  (traced) ones, with every end-to-end value above 0;
* in a directory holding only BENCHMARK.json and perfbench/, the benchmark
  exits non-zero without printing a result.

    python3 perfbench/selfcheck.py [--seed N] [--docs N]

Exits 0 when every check passes. Takes a few minutes: Spark start-up and the
traced run's per-layer probes cost the same at any corpus size.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

from run import ROOT, WORKLOADS

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run_bench(cwd: str, workload: str, seed: int, trace: int, docs: int):
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
        "--docs", str(docs),
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=200)


def check_result(proc, expected: dict[str, str], what: str) -> list[str]:
    if proc.returncode != 0:
        return [f"{what}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    errs = []
    if set(res) != RESULT_KEYS:
        errs.append(f"{what}: result keys {sorted(res)}")
    if res.get("failed") != 0 or res.get("correct") is not True:
        errs.append(f"{what}: {res.get('failed')} of {res.get('attempted')} failed")
    got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
    if got != expected:
        errs.append(
            f"{what}: metrics missing {sorted(set(expected) - set(got))}, "
            f"extra {sorted(set(got) - set(expected))}, "
            f"units {[k for k in got if k in expected and got[k] != expected[k]]}"
        )
    return errs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--docs", type=int, default=400)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {w["name"] for w in spec["workloads"]}
    errs = []
    if names != set(WORKLOADS):
        errs.append(f"workloads: BENCHMARK.json {sorted(names)}, run.py {WORKLOADS}")
    expected = {
        trace: {m["name"]: m["unit"] for m in spec[key]}
        for trace, key in ((0, "end_to_end"), (1, "per_layer"))
    }
    for workload in sorted(names):
        for trace in (0, 1):
            what = f"{workload} --trace {trace}"
            proc = run_bench(ROOT, workload, args.seed, trace, args.docs)
            new = check_result(proc, expected[trace], what)
            if trace == 0 and not new:
                res = json.loads(proc.stdout.strip().splitlines()[-1])
                new = [
                    f"{what}: {k} = {v['value']}"
                    for k, v in res["metrics"].items()
                    if not v["value"] > 0
                ]
            print(f"{what}: {'FAIL' if new else 'ok'}", flush=True)
            errs += new

    # the contract's negative case: no package, no result, non-zero exit
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="selfcheck-", dir=base)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(
            os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        proc = run_bench(bare, sorted(names)[0], args.seed, 0, args.docs)
        refused = proc.returncode != 0 and '"metrics"' not in proc.stdout
        print(f"bare directory: {'ok' if refused else 'FAIL'}", flush=True)
        if not refused:
            errs.append("bare directory: the benchmark did not fail")
    finally:
        shutil.rmtree(bare)

    for e in errs:
        print(e, file=sys.stderr)
    print("SELFCHECK_OK" if not errs else f"SELFCHECK_FAILED ({len(errs)})")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
