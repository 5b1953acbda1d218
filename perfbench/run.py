"""Repository benchmark: OCR extraction throughput on the seeded synthetic
corpus, end to end and (with ``--trace 1``) layer by layer.

    python3 perfbench/run.py --workload ocr_shared --seed 1 --seconds 12 --trace 0

Run from the repository root. This process fits the Spark environment to the
box (cores, RAM, import path, scratch dirs inside the checkout), starts
``perfbench/worker.py`` to do the Spark work, samples the resident memory of
the worker's whole process tree (Python driver, JVM, Python workers) from
``/proc``, stops every process the worker left behind, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` (documents)
and ``metrics``. The line before it is a ``run_info`` JSON record (seed, git
commit, loadavg at start, Spark settings, per-iteration times).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns Spark's
event log on and reports the per-layer metrics (perfbench/README.md lists them
and what each should move).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "granulate_char_ocr_spark")
WORKLOADS = ("ocr_shared", "ocr_salted")
# every run must end within 180 s; leave room for interpreter and JVM exit
DEADLINE_S = 170.0
PAGE = os.sysconf("SC_PAGE_SIZE")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A sixth of the box's RAM, 1-24 GiB: the session default (24g) is sized
    for a 128 GiB box, and this process tree shares the box."""
    return f"{max(1, min(24, int(_mem_total_gib() / 6)))}g"


def spark_env(work: str, trace: bool) -> dict[str, str]:
    """Environment for the worker: every knob is one the package or Spark
    already reads, so the package itself is unchanged."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # a fixed-size heap (-Xms = spark.driver.memory), so peak_rss_mb
        # does not swing with the JVM's run-to-run heap resizing
        "--driver-java-options",
        f'-Xms{driver_mem()} "-Djava.io.tmpdir={tmp}" -XX:-UsePerfData',
    ]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(_cpus()),
        SPARK_DRIVER_MEM=driver_mem(),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_SUBMIT_ARGS=shlex.join([*submit, "pyspark-shell"]),
        # spark-submit's launcher JVM (spark-class word-splits this value)
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=tmp,
        SPARK_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
    )
    return env


def _proc_table() -> dict[int, tuple[int, str, int, str]]:
    """pid -> (ppid, start time, resident pages, command name) for every
    live process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        fields = stat[stat.rindex(")") + 2 :].split()
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        table[int(name)] = (int(fields[1]), fields[19], rss, comm)
    return table


class ProcessTree:
    """Tracks every descendant of one child process by polling ``/proc``:
    peak summed RSS while it runs (and its split by command name), and the
    set of processes to stop after. (pid, start time) identifies a process,
    so a reused pid is not killed."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.seen: set[tuple[int, str]] = set()
        self.peak_bytes = 0
        self.peak_split_mb: dict[str, float] = {}

    def sample(self) -> None:
        table = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, row in table.items():
            children.setdefault(row[0], []).append(pid)
        stack, split = [self.root], {}
        while stack:
            pid = stack.pop()
            if pid not in table:
                continue
            _, start, rss, comm = table[pid]
            self.seen.add((pid, start))
            split[comm] = split.get(comm, 0) + rss * PAGE
            stack.extend(children.get(pid, ()))
        if sum(split.values()) > self.peak_bytes:
            self.peak_bytes = sum(split.values())
            self.peak_split_mb = {k: v / 2**20 for k, v in split.items()}

    def alive(self) -> list[int]:
        table = _proc_table()
        return [p for p, st in self.seen if p in table and table[p][1] == st]

    def stop_all(self) -> None:
        """Terminate, then kill, whatever of the tree is still running, and
        wait until none of it is left."""
        for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
            pids = self.alive()
            if not pids:
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + grace
            while self.alive() and time.monotonic() < end:
                time.sleep(0.05)
        if self.alive():
            raise RuntimeError(f"processes survived SIGKILL: {self.alive()}")


def run_worker(args: argparse.Namespace, work: str, deadline: float) -> dict:
    """One worker process; returns its result record plus ``peak_rss_mb``."""
    trace = bool(args.trace)
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--docs", str(args.docs),
        "--work", work,
        "--out", out,
    ]
    if trace:
        cmd += ["--events", os.path.join(work, "events")]
    env = spark_env(work, trace)
    # the worker's output is diagnostics; stdout stays for the result line
    child = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        start_new_session=True,
    )
    tree = ProcessTree(child.pid)
    try:
        while child.poll() is None:
            tree.sample()
            if time.monotonic() > deadline:
                raise TimeoutError(f"worker exceeded the {DEADLINE_S:.0f} s budget")
            time.sleep(0.1)
    finally:
        if child.poll() is None:
            child.kill()
        child.wait()
        tree.stop_all()
    if child.returncode != 0:
        raise RuntimeError(f"worker exited with code {child.returncode}")
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_mb"] = tree.peak_bytes / 2**20
    res["peak_rss_split_mb"] = tree.peak_split_mb
    return res


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main() -> int:
    # a terminated run still stops its worker tree (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=2000, help="corpus size")
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: package not found at {PACKAGE}", file=sys.stderr)
        return 2

    with open("/proc/loadavg") as f:
        loadavg = [float(x) for x in f.read().split()[:3]]
    steal_at_start = _steal_s()
    deadline = time.monotonic() + DEADLINE_S
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        res = run_worker(args, work, deadline)
        if args.trace:
            metrics = res["layers"]
        else:
            metrics = {
                "docs_per_s": res["docs"] / res["wall_s"],
                "wall_s": res["wall_s"],
                "setup_s": res["setup_s"],
                "peak_rss_mb": res["peak_rss_mb"],
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    info = {
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
        "git_commit": _git_commit(),
        "loadavg_at_start": loadavg,
        "cpu_steal_s": _steal_s() - steal_at_start,
        "cpus": _cpus(),
        "driver_mem": driver_mem(),
        "docs": args.docs,
        "iteration_s": res["iteration_s"],
        "untraced_iteration_s": res.get("untraced_iteration_s"),
        "setup_s": res["setup_s"],
        "peak_rss_split_mb": res["peak_rss_split_mb"],
    }
    print(json.dumps({"run_info": info}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
