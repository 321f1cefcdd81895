"""The scale rung: run_transcripts on the seeded transcript corpus
(n_base=20000 -> 554,505 turns / 27,203 conversations). Prints one JSON
line: wall, stage walls, and a label-exact checksum of the cluster table
for cross-tree comparison.

    python bench/eager_rung.py [n_base] [--trace] [--conf KEY=VALUE ...] [--work DIR]

``--conf`` (repeatable) adds a Spark setting to the session: one arm of an
A/B. Run the arms in alternating fresh processes. ``--work`` holds the
cached corpus and the event log (default ``.bench_cache/`` in the
checkout). ``--trace`` turns on the benchmark's rolled event log
(``perfbench/run.py`` ``event_log_conf``), stops the session after the run
so the log is complete, and adds the per-stage ledger of the jobs submitted
during the run (``perfbench/ledger.py``) to the line; the exit code is
nonzero when that ledger cannot be trusted (``ledger_problems``).

The local master's width is ``SPARK_GRAFT_CPUS``, else the cores this
process may run on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
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
    p.add_argument("--trace", action="store_true",
                   help="add the event-log ledger of the run")
    p.add_argument("--conf", type=conf_item, action="append", default=[],
                   metavar="KEY=VALUE", help="Spark setting (repeatable)")
    p.add_argument("--work", default=os.path.join(ROOT, ".bench_cache"),
                   help="corpus cache and event-log directory")
    return p.parse_args(argv)


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
    conf = dict(args.conf)
    log_dir = os.path.join(args.work, "eventlog")
    if args.trace:
        from run import event_log_conf

        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update(event_log_conf(log_dir))
    spark = get_spark(app_name="eager-rung", master=f"local[{cpus}]", extra_conf=conf)
    turns = spark.read.schema(schemas.TRANSCRIPTS).parquet(path)
    n_turns = turns.cache().count()
    t0 = time.time()
    res = run_transcripts(spark, turns, DedupConfig())
    t1 = time.time()
    chk = res.clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64("id", "cluster_id").cast("decimal(38,0)")
        ).cast("string").alias("h"),
    ).collect()[0]
    out = {
        "n_base": args.n_base, "n_turns": n_turns, "wall_s": round(t1 - t0, 3),
        "stage_walls": res.stats.get("stage_walls", {}),
        "n_rows": chk["n"], "label_checksum": chk["h"],
        "duplicate_pairs": res.stats.get("duplicate_pairs"),
        "verified_candidates": res.stats.get("verified_candidates"),
    }
    spark.stop()  # writes the application-end event and closes the log
    if args.trace:
        out.update(ledger_fields(log_dir, (t0 * 1e3, t1 * 1e3), res.stats, t1 - t0))
    print(json.dumps(out))
    return 1 if out.get("ledger_problems") else 0


if __name__ == "__main__":
    sys.exit(main())
