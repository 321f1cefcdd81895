"""The repository benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload transcripts-eager --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, seed 42

Run from the repository root. One invocation, in a fresh process and JVM:

1. builds the workload's inputs from ``--seed`` and imports the program
   (not timed);
2. sets up once: Spark session start (launching the JVM) plus input read
   and cache. ``setup_s`` is that cold start, as every invocation pays it;
3. runs the pipeline back to back until ``--seconds`` have passed, at
   least once; ``wall_s`` is the median. Before each run the cache is
   cleared and the input re-cached, outside the timed region. At the
   benchmark's 10 s this is one run: the first in the JVM;
4. with ``--trace 1``, starts the session with Spark's event log on
   (``spark.eventLog.*`` through ``get_spark(extra_conf=...)``), makes that
   first run, stops the session so the log is complete, and reports the
   per-stage ledger of the jobs submitted during the run (``ledger.py``).

Every run is checked: its cluster-label checksum must equal the pinned one
(or, for seeds without a pin, the first run's) and its truth-pair
recall must reach ``RECALL_GATE``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is nonzero
when any run failed or the program cannot be imported from the checkout.
Everything the benchmark writes goes under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from ledger import Ledger, per_layer_metrics, per_layer_units, read_events
from workloads import RECALL_GATE, WORKLOADS, truth_pairs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "4g"  # the pipeline's 24g default exceeds a 15 GB host

END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s", "recall": "ratio"}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure(work: str) -> dict[str, str]:
    """Point every scratch location into ``work`` (before Spark starts)
    and return the Spark conf the benchmark adds to ``get_spark``'s."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["HSIP_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["HSIP_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import hsip from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark's own event log, rolled, so the reader must follow every
    ``events_*`` segment."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "true",
        "spark.eventLog.rolling.maxFileSize": "10m",
    }


def program_present() -> bool:
    try:
        import hsip
    except ImportError:
        return False
    return os.path.abspath(hsip.__file__).startswith(ROOT + os.sep)


def tree_pids() -> list[int]:
    """This process and all its descendants: the driver, the JVM and the
    Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree so far. Reaped
    children count through their parent's cutime/cstime, so the sum only
    grows while the tree reaps its own children."""
    ticks = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over the process tree."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def stop_jvm() -> None:
    """Stop the session, then the JVM it ran in, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


class Bench:
    def __init__(self, workload, seed: int, work: str, spark_conf: dict[str, str]):
        self.wl, self.seed, self.work, self.conf = workload, seed, work, spark_conf
        self.attempted = self.failed = 0
        self.reference = None  # checksum every run must reproduce
        self.spark = self.df = None

    def setup(self) -> float:
        from hsip.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.wl.name}", master=f"local[{cores()}]",
            extra_conf=self.conf,
        )
        self.df = self.wl.load(self.spark, self.prepared)
        return time.perf_counter() - t

    def check(self, res) -> dict:
        """Label checksum + truth-pair scores of one run's clusters."""
        from pyspark.sql import functions as F

        rows = res.clusters.select(
            "id", "cluster_id", F.xxhash64("id", "cluster_id").alias("h")
        ).collect()
        checksum = (len(rows), str(sum(r["h"] for r in rows)))
        ours = truth_pairs([r["id"] for r in rows], [r["cluster_id"] for r in rows])
        truth = self.prepared.truth
        hit = len(ours & truth)
        recall = hit / len(truth) if truth else 1.0
        precision = hit / len(ours) if ours else 1.0
        if self.reference is None:
            self.reference = self.prepared.pin or checksum
        problems = []
        if checksum != self.reference:
            problems.append(f"label checksum {checksum} != {self.reference}")
        if recall < RECALL_GATE:
            problems.append(f"recall {recall:.4f} < {RECALL_GATE}")
        for p in problems:
            print(f"FAIL {self.wl.name} seed {self.seed}: {p}", file=sys.stderr)
        return {"ok": not problems, "recall": recall, "precision": precision}

    def run_once(self) -> dict | None:
        """One pipeline run, timed and checked; None when it raised."""
        self.wl.reset(self.work)
        self.spark.catalog.clearCache()
        self.df = self.wl.load(self.spark, self.prepared)
        self.attempted += 1
        try:
            cpu0, t0 = tree_cpu_s(), time.time()
            res = self.wl.run(self.spark, self.df, self.work)
            t1, cpu1 = time.time(), tree_cpu_s()
            out = {"wall_s": t1 - t0, "cpu_s": cpu1 - cpu0,
                   "window_ms": (t0 * 1e3, t1 * 1e3),
                   "stats": res.stats, **self.check(res)}
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        self.failed += not out["ok"]
        return out

    def measure(self, seconds: float) -> list[dict]:
        runs, start = [], time.perf_counter()
        while not runs or time.perf_counter() - start < seconds:
            out = self.run_once()
            if out is None:
                break
            runs.append(out)
        return runs

    def execute(self, seconds: float, trace: bool) -> dict[str, float]:
        self.prepared = self.wl.prepare(self.seed, self.work)
        import hsip.pipeline  # noqa: F401  (import cost stays out of the runs)

        if trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir)
            self.conf = {**self.conf, **event_log_conf(log_dir)}
        setup_s = self.setup()
        if trace:
            return self.trace(setup_s)
        runs = self.measure(seconds)
        if not runs:
            return {}
        walls = [r["wall_s"] for r in runs]
        print(f"setup {setup_s:.3f} s; runs {fmt(walls)} s")
        wall = statistics.median(walls)
        return {
            "setup_s": setup_s,
            "wall_s": wall,
            "docs_per_s": runs[-1]["stats"]["n_docs"] / wall,
            "recall": runs[-1]["recall"],
        }

    def trace(self, setup_s: float) -> dict[str, float]:
        out = self.run_once()
        if out is None:
            return {}
        print(f"traced run {out['wall_s']:.3f} s")
        peak_rss_mb = tree_peak_rss_mb()
        stop_jvm()  # closes the event log
        ledger = Ledger(read_events(os.path.join(self.work, "eventlog")), out["window_ms"])
        problems = ledger.check()
        for p in problems:
            print(f"FAIL ledger: {p}", file=sys.stderr)
        self.failed += bool(problems) and out["ok"]  # one failure per run
        if ledger.foreign:
            print(f"labels outside STAGES, counted as unlabelled: "
                  f"{sorted(ledger.foreign)}", file=sys.stderr)
        with open(os.path.join(self.work, "spans.json"), "w") as f:
            json.dump(ledger.spans(), f)
        return per_layer_metrics(ledger, out["stats"], {
            "pipeline.traced_wall_s": out["wall_s"],
            "pipeline.process_cpu_s": out["cpu_s"],
            "session.setup_s": setup_s,
            "session.peak_rss_mb": peak_rss_mb,
            "verify.precision": out["precision"],
            "catalog.bytes_written": dir_bytes(os.path.join(self.work, "warehouse")),
        })


def fmt(values: list[float]) -> str:
    return " ".join(f"{v:.3f}" for v in values)


def run_workload(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    conf = configure(work)
    if not program_present():
        print(f"hsip is not importable from {ROOT}", file=sys.stderr)
        return 2
    bench = Bench(WORKLOADS[args.workload], args.seed, work, conf)
    try:
        values = bench.execute(args.seconds, bool(args.trace))
    finally:
        stop_jvm()
    units = per_layer_units() if args.trace else END_TO_END
    correct = bench.failed == 0 and bench.attempted > 0 and set(values) == set(units)
    for name in units:
        if name in values:
            print(f"{args.workload} {name} {values[name]:.6g} {units[name]}")
    print(json.dumps({
        "correct": correct, "attempted": bench.attempted, "failed": bench.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()
                    if n in values},
    }))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    correct, attempted, failed, metrics = True, 0, 0, {}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        correct &= proc.returncode == 0 and result["correct"]
        attempted += result["attempted"]
        failed += result["failed"]
        metrics.update({f"{name}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
