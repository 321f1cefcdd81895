"""Round-6 rung A/B harness: eager_rung (554k turns, above the barrier)
under a config overlay, one process per invocation so JVM state never
leaks across arms. Prints one JSON line with wall, stage walls, label
checksum, and event-log job/stage/task/shuffle totals.

Usage: python bench/ab_rung.py <overlay> [n_base]
Overlays defined in OVERLAYS below. Alternate arms A/B/A/B across
invocations for contention-robust comparisons (shared host).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
EVDIR = "/tmp/evlog_abrung"

OVERLAYS: dict[str, dict[str, str]] = {
    "base": {},
    # Default-Spark posture for cached-plan partitioning: a
    # repartition(col).cache() keeps its HashPartitioning visible, so
    # the 4 consumer legs of pairs_from_buckets reuse the cached layout
    # instead of re-exchanging the full bucket table per leg.
    "cachedpart_off": {
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "false",
    },
}


def _event_log_files(app_id: str) -> list[str]:
    """Every file of the app's event log: the plain log, or all rolled
    ``events_<n>_<app>`` segments in numeric order (a lexical sort puts
    events_10 before events_2, and the first segment alone misses every
    job after the first roll)."""
    evp = os.path.join(EVDIR, app_id)
    if os.path.exists(evp):
        return [evp]
    d = os.path.join(EVDIR, f"eventlog_v2_{app_id}")
    parts = [p for p in os.listdir(d) if p.startswith("events_")]
    parts.sort(key=lambda p: int(p.split("_")[1]))
    return [os.path.join(d, p) for p in parts]


def main() -> None:
    overlay_name = sys.argv[1] if len(sys.argv) > 1 else "base"
    n_base = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
    overlay = dict(OVERLAYS[overlay_name])
    overlay["spark.eventLog.enabled"] = "true"
    overlay["spark.eventLog.dir"] = EVDIR
    overlay["spark.eventLog.compress"] = "false"
    os.makedirs(EVDIR, exist_ok=True)

    from pyspark.sql import functions as F

    from hsip import schemas
    from hsip.config import DedupConfig
    from hsip.pipeline import run_transcripts
    from hsip.session import get_spark

    cache = os.path.join("/root/repo", ".bench_cache", f"transcripts_n{n_base}")
    assert os.path.exists(os.path.join(cache, "_SUCCESS")), cache
    spark = get_spark(
        app_name=f"abrung-{overlay_name}",
        master=f"local[{CPUS}]",
        extra_conf=overlay,
    )
    app_id = spark.sparkContext.applicationId
    turns = spark.read.schema(schemas.TRANSCRIPTS).parquet(cache)
    turns.cache().count()
    t0 = time.time()
    res = run_transcripts(spark, turns, DedupConfig())
    wall = round(time.time() - t0, 3)
    chk = res.clusters.agg(
        F.sum(F.xxhash64("id", "cluster_id").cast("decimal(38,0)")).cast("string")
    ).collect()[0][0]
    stage_walls = res.stats.get("stage_walls", {})
    dup_pairs = res.stats.get("duplicate_pairs")
    ver_cands = res.stats.get("verified_candidates")
    spark.stop()

    n_jobs = n_stages = n_tasks = 0
    sh_write_mb = 0.0
    for evp in _event_log_files(app_id):
        with open(evp) as f:
            for line in f:
                ev = json.loads(line)
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    n_jobs += 1
                elif e == "SparkListenerStageCompleted":
                    n_stages += 1
                    n_tasks += ev["Stage Info"]["Number of Tasks"]
                elif e == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sh_write_mb += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ) / 1e6

    print(json.dumps({
        "overlay": overlay_name, "n_base": n_base, "wall_s": wall,
        "checksum": chk, "duplicate_pairs": dup_pairs,
        "verified_candidates": ver_cands,
        "stage_walls": stage_walls,
        "jobs": n_jobs, "stages": n_stages, "tasks": n_tasks,
        "sh_write_mb": round(sh_write_mb, 1),
    }))


if __name__ == "__main__":
    main()
