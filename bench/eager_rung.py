"""The scale rung: run_transcripts on the seeded transcript corpus
(n_base=20000 -> 554,505 turns / 27,203 conversations). Prints one JSON
line: wall, stage walls, and a label-exact checksum of the cluster table
for cross-tree comparison.

    python bench/eager_rung.py [n_base] [--master MASTER] [--collapse-exact]
        [--trace] [--conf KEY=VALUE ...] [--work DIR]

``--conf`` (repeatable) adds a Spark setting to the session: one arm of an
A/B. Run the arms in alternating fresh processes. ``--master`` defaults to
``local[SPARK_GRAFT_CPUS]`` (else the cores this process may run on); a
``local-cluster[workers,cores,MB]`` master gets hsip shipped as a
``--py-files`` zip (``tools/build_pyfiles.py``), and its executors' memory
comes from ``--conf spark.executor.memory=...`` (at most the worker's MB).
``--collapse-exact`` runs the exact-collapse pre-pass (DEPLOYMENT.md).
``--work`` holds the cached corpus and the event log (default
``.bench_cache/`` in the checkout). ``--trace`` turns on the benchmark's
rolled event log (``perfbench/run.py`` ``event_log_conf``) and adds the
per-stage ledger of the jobs submitted during the run
(``perfbench/ledger.py``) to the line; the exit code is nonzero when that
ledger cannot be trusted (``ledger_problems``).

N -> kN scaling: run the rung at two masters (same ``n_base`` for strong
scaling, k times the ``n_base`` at kN for weak scaling), several
alternating runs each, collect each level's lines in one file and pass the
two files to ``tools/bench_compare.py``, which prints ``efficiency``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ensure_corpus(work: str, n_base: int) -> str:
    path = os.path.join(work, f"transcripts_n{n_base}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from hsip.fixtures.gen import gen_transcripts

        os.makedirs(path, exist_ok=True)
        pdf = gen_transcripts(seed=42, n_base=n_base).transcripts
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(os.path.join(path, "part0.parquet"), index=False)
        with open(os.path.join(path, "_SUCCESS"), "w") as f:
            f.write("ok")
    return path


def conf_item(text: str) -> tuple[str, str]:
    key, sep, value = text.partition("=")
    if not sep or not key:
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {text!r}")
    return key, value


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("n_base", nargs="?", type=int, default=20000)
    p.add_argument("--master", help="Spark master (default local[SPARK_GRAFT_CPUS])")
    p.add_argument("--collapse-exact", action="store_true",
                   help="run with DedupConfig(collapse_exact=True)")
    p.add_argument("--trace", action="store_true",
                   help="add the event-log ledger of the run")
    p.add_argument("--conf", type=conf_item, action="append", default=[],
                   metavar="KEY=VALUE", help="Spark setting (repeatable)")
    p.add_argument("--work", default=os.path.join(ROOT, ".bench_cache"),
                   help="corpus cache and event-log directory")
    return p.parse_args(argv)


def master_cores(master: str) -> int:
    """Task slots of a ``local[n]`` or ``local-cluster[workers,cores,MB]``
    master."""
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if m:
        return int(m.group(1))
    m = re.fullmatch(r"local-cluster\[(\d+),\s*(\d+),\s*\d+\]", master)
    if m:
        return int(m.group(1)) * int(m.group(2))
    raise ValueError(f"cannot count the cores of master {master!r}")


def efficiency(lo: list[dict], hi: list[dict]) -> dict:
    """N -> kN scaling efficiency from the rung lines of two levels.

    Each level is one or more lines of one master, corpus, config and
    label checksum; its wall is the median. k is the ratio of the masters'
    cores. Strong scaling (same ``n_base``) requires equal label checksums;
    weak scaling requires ``n_base`` to grow by exactly k. ``efficiency`` is
    turns/s per core at kN over turns/s per core at N; ``efficiency_work``
    is the same ratio over ``verified_candidates``/s, which tells a wall
    ratio that fell because the work grew faster than the corpus from one
    that fell because the engine scaled badly.
    """
    def level(lines: list[dict]) -> tuple[dict, float]:
        keys = {(r["master"], r["n_base"], r.get("collapse_exact"), r["label_checksum"])
                for r in lines}
        if len(keys) != 1:
            raise ValueError(f"a level's lines must share master, n_base, "
                             f"collapse_exact and label_checksum, got {sorted(keys)}")
        return lines[0], statistics.median(r["wall_s"] for r in lines)

    (a, wall_a), (b, wall_b) = level(lo), level(hi)
    k = master_cores(b["master"]) / master_cores(a["master"])
    if a["n_base"] == b["n_base"]:
        mode = "strong"
        if a["label_checksum"] != b["label_checksum"]:
            raise ValueError(f"strong levels label differently: "
                             f"{a['label_checksum']} vs {b['label_checksum']}")
    elif b["n_base"] == k * a["n_base"]:
        mode = "weak"
    else:
        raise ValueError(f"corpus ratio {b['n_base'] / a['n_base']:g} is not "
                         f"the core ratio {k:g}")

    def per_core(key: str) -> float:
        return (b[key] / wall_b) / (k * a[key] / wall_a)

    return {
        "mode": mode, "core_ratio": k,
        "masters": [a["master"], b["master"]], "n_base": [a["n_base"], b["n_base"]],
        "runs": [len(lo), len(hi)], "median_wall_s": [wall_a, wall_b],
        "label_checksums": [a["label_checksum"], b["label_checksum"]],
        "efficiency": round(per_core("n_turns"), 3),
        "efficiency_work": round(per_core("verified_candidates"), 3),
    }


def ledger_fields(log_dir: str, window_ms: tuple[float, float],
                  stats: dict, wall_s: float) -> dict:
    """The traced run's ledger: its problems, the segments read, the
    per-layer metrics and the run's stage and shuffle-write totals."""
    from ledger import Ledger, log_files, per_layer_metrics, read_events

    ledger = Ledger(read_events(log_dir), window_ms)
    if ledger.foreign:
        print(f"labels outside STAGES, counted as unlabelled: "
              f"{sorted(ledger.foreign)}", file=sys.stderr)
    metrics = per_layer_metrics(ledger, stats, {"pipeline.traced_wall_s": wall_s})
    metrics["pipeline.stages"] = len(ledger.stage_cpu_s)
    metrics["pipeline.shuffle_write_mb"] = sum(t["write_mb"] for t in ledger.tasks)
    return {
        "ledger_problems": ledger.check(),
        "log_segments": len(log_files(log_dir)),
        **{k: round(v, 4) if isinstance(v, float) else v for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    # Python workers import hsip from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from pyspark.sql import functions as F

    from hsip import schemas
    from hsip.config import DedupConfig
    from hsip.pipeline import run_transcripts
    from hsip.session import get_spark

    path = ensure_corpus(args.work, args.n_base)
    master = args.master or f"local[{cpus}]"
    conf = dict(args.conf)
    log_dir = os.path.join(args.work, "eventlog")
    if args.trace:
        from run import event_log_conf

        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update(event_log_conf(log_dir))
    spark = get_spark(app_name="eager-rung", master=master, extra_conf=conf)
    try:
        if master.startswith("local-cluster["):
            # executor processes import hsip only from what is shipped to them
            from tools.build_pyfiles import build

            spark.sparkContext.addPyFile(build(os.path.join(args.work, "hsip.zip")))
        turns = spark.read.schema(schemas.TRANSCRIPTS).parquet(path)
        n_turns = turns.cache().count()
        t0 = time.time()
        res = run_transcripts(spark, turns, DedupConfig(collapse_exact=args.collapse_exact))
        t1 = time.time()
        chk = res.clusters.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64("id", "cluster_id").cast("decimal(38,0)")
            ).cast("string").alias("h"),
        ).collect()[0]
    finally:
        # writes the application-end event, closes the log and, on a
        # local-cluster master, stops the executor processes
        spark.stop()
    out = {
        "master": master, "collapse_exact": args.collapse_exact,
        "n_base": args.n_base, "n_turns": n_turns, "wall_s": round(t1 - t0, 3),
        "stage_walls": res.stats.get("stage_walls", {}),
        "n_rows": chk["n"], "label_checksum": chk["h"],
        "duplicate_pairs": res.stats.get("duplicate_pairs"),
        "verified_candidates": res.stats.get("verified_candidates"),
    }
    if args.trace:
        out.update(ledger_fields(log_dir, (t0 * 1e3, t1 * 1e3), res.stats, t1 - t0))
    print(json.dumps(out))
    return 1 if out.get("ledger_problems") else 0


if __name__ == "__main__":
    sys.exit(main())
