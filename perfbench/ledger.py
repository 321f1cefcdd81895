"""Per-stage Spark ledger of one traced pipeline run, read from its event log.

The log covers the whole session; only the jobs submitted inside the run's
window count. Every such job is attributed to one pipeline stage label, in
order:

1. its ``spark.job.description`` (``hsip:<stage>``; ``cc_round_<n>``
   folds into ``cc_rounds``);
2. the catalog table its SQL execution writes (checkpoint mode):
   ``ckpt/<run_id>/<stage>`` gives that stage, ``lineage`` and ``metrics``
   give the catalog's own bookkeeping writes;
3. its ``spark.scheduler.pool`` (``hsip-mh_sh``, ``hsip-substr``: the
   channel threads' lazily built candidate chains);
4. otherwise ``unlabelled``. A label that is not in ``STAGES`` is folded
   into ``unlabelled`` too, and named in ``Ledger.foreign``.

The write path ranks above the pool because checkpoint-mode stages set no
job description, so every write made on a channel thread carries that
channel's pool. Each executed Spark stage belongs to the first job of the
run that lists it, so every task is counted once. ``Ledger.check`` compares the
task CPU the metrics report against the executor CPU of the stage-completed
events, a total that does not go through the attribution.
"""

from __future__ import annotations

import json
import os
import re
import statistics

# (layer, stage label, whether PipelineResult.stats["stage_walls"] has it)
STAGES = (
    ("reassemble", "materialize", False),
    ("textkernel", "features", True),
    ("suffixes", "substr_fps", True),
    ("suffixes", "substr_candidates", True),
    ("suffixes", "verify_substr", True),
    ("lsh", "candidates_mh_sh", True),
    ("verify", "verify_mh_sh", True),
    ("verify", "verified", True),
    ("cc", "clusters", True),
    ("cc", "cc_edges", False),
    ("cc", "cc_size_probe", False),
    ("cc", "cc_rounds", False),
    ("cc", "representatives", True),
    ("catalog", "lineage", False),
    ("catalog", "metrics", False),
)
LAYER = {stage: layer for layer, stage, _ in STAGES}
POOL_STAGE = {"hsip-mh_sh": "candidates_mh_sh", "hsip-substr": "substr_candidates"}
CHANNELS = ("minhash_lsh", "simhash", "substr")

_STAGE_QUANTITIES = (
    ("jobs", "count"), ("task_cpu_s", "s"), ("task_run_s", "s"),
    ("run_cpu_ratio", "ratio"), ("shuffle_write_mb", "MB"), ("task_skew", "ratio"),
)
_TOTALS = (
    ("pipeline.jobs", "count"), ("pipeline.tasks", "count"),
    ("pipeline.driver_gap_s", "s"), ("pipeline.unlabelled_task_s", "s"),
    ("pipeline.unlabelled_share", "ratio"), ("pipeline.shuffle_read_mb", "MB"),
    ("pipeline.spill_mb", "MB"), ("pipeline.gc_s", "s"),
    ("pipeline.task_cpu_s", "s"), ("pipeline.process_cpu_s", "s"),
    ("pipeline.traced_wall_s", "s"),
    ("session.setup_s", "s"), ("session.peak_rss_mb", "MB"),
    ("verify.candidates", "count"), ("verify.duplicate_pairs", "count"),
    ("verify.useful_ratio", "ratio"), ("verify.precision", "ratio"),
    *((f"verify.dup_pairs.{ch}", "count") for ch in CHANNELS),
    ("cc.rounds", "count"), ("catalog.bytes_written", "bytes"),
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name the traced run reports, with its unit."""
    units = {}
    for layer, stage, has_wall in STAGES:
        if has_wall:
            units[f"{layer}.{stage}.wall_s"] = "s"
        for q, unit in _STAGE_QUANTITIES:
            units[f"{layer}.{stage}.{q}"] = unit
    units.update(_TOTALS)
    return units


def _segment_number(name: str) -> int:
    return int(re.match(r"events_(\d+)_", name).group(1))


def log_files(log_dir: str) -> list[str]:
    """The segments of the rolled event log under ``log_dir``, in order.

    A rolled log is a directory ``eventlog_v2_<app>`` of ``events_<n>_<app>``
    segments, n = 1, 2, ...; raises when a number is missing, so that no
    segment goes unread."""
    (app_dir,) = os.listdir(log_dir)
    app_dir = os.path.join(log_dir, app_dir)
    segs = sorted((f for f in os.listdir(app_dir) if f.startswith("events_")),
                  key=_segment_number)
    numbers = [_segment_number(f) for f in segs]
    if numbers != list(range(1, len(segs) + 1)):
        raise ValueError(f"event-log segments {numbers} are not 1..{len(segs)}")
    return [os.path.join(app_dir, f) for f in segs]


def read_events(log_dir: str):
    for path in log_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


_WRITE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: ([^,\s]+)")
_CKPT = re.compile(r"/ckpt/[^/]+/(\w+?)(?:\.tmp-\w+)?/data")
_CATALOG = re.compile(r"/(lineage|metrics)(?:\.tmp-\w+)?/data")


def _write_label(plan: str) -> str | None:
    for path in _WRITE.findall(plan or ""):
        m = _CKPT.search(path)
        if m:
            return m.group(1)
        m = _CATALOG.search(path)
        if m:
            return m.group(1)
    return None


def _desc_label(desc: str | None) -> str | None:
    if not desc or not desc.startswith("hsip:"):
        return None
    stage = desc[len("hsip:"):]
    return "cc_rounds" if stage.startswith("cc_round_") else stage


def _accum(info: dict, name: str) -> int:
    for acc in info.get("Accumulables", []):
        if acc.get("Name") == name:
            return int(acc.get("Value", 0))
    return 0


class Ledger:
    """Jobs, tasks and their stage labels of the jobs submitted inside
    ``window_ms`` (epoch milliseconds), from one event log."""

    def __init__(self, events, window_ms: tuple[float, float]):
        self.window_ms = t0, t1 = window_ms
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.stage_cpu_s: dict[tuple[int, int], float] = {}
        self.foreign: set[str] = set()
        self.seen: set[str] = set()
        tasks: list[dict] = []
        sql_label: dict[str, str] = {}
        for ev in events:
            kind = ev.get("Event", "")
            self.seen.add(kind)
            if kind == "SparkListenerJobStart":
                if not t0 <= ev["Submission Time"] <= t1:
                    continue
                jid = ev["Job ID"]
                self.jobs[jid] = {
                    "start": ev["Submission Time"], "end": None,
                    "props": ev.get("Properties") or {},
                }
                for sid in ev.get("Stage IDs", []):
                    self.stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if t0 <= (info.get("Submission Time") or 0) <= t1:
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    self.stage_cpu_s[key] = _accum(
                        info, "internal.metrics.executorCpuTime") / 1e9
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "attempt": ev.get("Stage Attempt ID", 0),
                    "run_s": tm.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                    "spill_mb": tm.get("Disk Bytes Spilled", 0) / 1e6,
                    "read_mb": (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0)) / 1e6,
                    "write_mb": sw.get("Shuffle Bytes Written", 0) / 1e6,
                })
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                label = _write_label(ev.get("physicalPlanDescription"))
                if label:
                    sql_label[str(ev["executionId"])] = label
        self.tasks = [t for t in tasks if t["stage"] in self.stage_job]
        for job in self.jobs.values():
            label = self._label(job["props"], sql_label)
            if label not in LAYER and label != "unlabelled":
                self.foreign.add(label)
                label = "unlabelled"
            job["label"] = label

    @staticmethod
    def _label(props: dict, sql_label: dict[str, str]) -> str:
        label = _desc_label(props.get("spark.job.description"))
        if label:
            return label
        for key in ("spark.sql.execution.id", "spark.sql.execution.root.id"):
            label = sql_label.get(str(props.get(key)))
            if label:
                return label
        return POOL_STAGE.get(props.get("spark.scheduler.pool"), "unlabelled")

    def task_label(self, task: dict) -> str:
        return self.jobs[self.stage_job[task["stage"]]]["label"]

    def check(self) -> list[str]:
        """Why the ledger cannot be trusted; empty when it can.

        The task CPU reported over ``STAGES`` plus ``unlabelled`` must be
        within 1% of the executor CPU of the stages submitted in the
        window, as their stage-completed events give it; the log must hold
        the application's start and end, and every job of the window its end.
        A lost segment holding only whole stages would leave both sums
        alike; ``log_files`` refuses gaps in the segment numbering."""
        labels = self.by_label()
        reported = sum(
            t["cpu_s"] for label in [*LAYER, "unlabelled"]
            for t in labels.get(label, {"tasks": []})["tasks"]
        )
        total = sum(self.stage_cpu_s.values())
        problems = []
        if abs(reported - total) > 0.01 * total:
            problems.append(f"reported task CPU {reported:.3f} s != stage-completed "
                            f"executor CPU {total:.3f} s")
        for kind in ("SparkListenerApplicationStart", "SparkListenerApplicationEnd"):
            if kind not in self.seen:
                problems.append(f"event log has no {kind}")
        unended = sorted(j for j, job in self.jobs.items() if job["end"] is None)
        if unended:
            problems.append(f"jobs {unended} have no end event")
        return problems

    def driver_gap_s(self) -> float:
        """Time inside the window during which no job was running."""
        t0_ms, t1_ms = self.window_ms
        spans = sorted(
            (max(j["start"], t0_ms), min(j["end"] or t1_ms, t1_ms))
            for j in self.jobs.values()
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return max(0.0, (t1_ms - t0_ms) - busy) / 1e3

    def by_label(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for job in self.jobs.values():
            agg = out.setdefault(job["label"], {"jobs": 0, "tasks": []})
            agg["jobs"] += 1
        for t in self.tasks:
            out.setdefault(self.task_label(t), {"jobs": 0, "tasks": []})["tasks"].append(t)
        return out

    def spans(self) -> list[dict]:
        """One span per job, parented by its stage label, whose span is in
        turn parented by the label's layer."""
        spans = []
        for jid, job in sorted(self.jobs.items()):
            spans.append({
                "name": f"job-{jid}", "parent": job["label"],
                "start_ms": job["start"], "end_ms": job["end"],
            })
        for label in sorted({s["parent"] for s in spans}):
            own = [s for s in spans if s["parent"] == label]
            spans.append({
                "name": label, "parent": LAYER.get(label, "pipeline"),
                "start_ms": min(s["start_ms"] for s in own),
                "end_ms": max(s["end_ms"] or 0 for s in own),
            })
        return spans


def _skew(tasks: list[dict]) -> float:
    """max / median task run time of the label's heaviest Spark stage."""
    by_stage: dict[tuple[int, int], list[float]] = {}
    for t in tasks:
        by_stage.setdefault((t["stage"], t["attempt"]), []).append(t["run_s"])
    if not by_stage:
        return 0.0
    heaviest = max(by_stage.values(), key=sum)
    med = statistics.median(heaviest)
    return max(heaviest) / med if med > 0 else 1.0


def per_layer_metrics(ledger: Ledger, stats: dict,
                      extra: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric of ``per_layer_units``.

    ``stats`` is the traced run's ``PipelineResult.stats``; ``extra`` holds
    the values measured outside the log (traced wall, process CPU, setup,
    peak RSS, precision, catalog bytes)."""
    walls = stats.get("stage_walls", {})
    labels = ledger.by_label()
    values: dict[str, float] = {}
    for layer, stage, has_wall in STAGES:
        agg = labels.get(stage, {"jobs": 0, "tasks": []})
        tasks = agg["tasks"]
        cpu = sum(t["cpu_s"] for t in tasks)
        run = sum(t["run_s"] for t in tasks)
        key = f"{layer}.{stage}"
        if has_wall:
            values[f"{key}.wall_s"] = float(walls.get(stage, 0.0))
        values[f"{key}.jobs"] = agg["jobs"]
        values[f"{key}.task_cpu_s"] = cpu
        values[f"{key}.task_run_s"] = run
        values[f"{key}.run_cpu_ratio"] = run / cpu if cpu > 0 else 0.0
        values[f"{key}.shuffle_write_mb"] = sum(t["write_mb"] for t in tasks)
        values[f"{key}.task_skew"] = _skew(tasks)
    unl = labels.get("unlabelled", {"tasks": []})["tasks"]
    run_total = sum(t["run_s"] for t in ledger.tasks)
    unl_run = sum(t["run_s"] for t in unl)
    cands = stats.get("verified_candidates", 0)
    dups = stats.get("duplicate_pairs", 0)
    by_ch = stats.get("dup_pairs_by_channel", {})
    values.update({
        "pipeline.jobs": len(ledger.jobs),
        "pipeline.tasks": len(ledger.tasks),
        "pipeline.driver_gap_s": ledger.driver_gap_s(),
        "pipeline.unlabelled_task_s": unl_run,
        "pipeline.unlabelled_share": unl_run / run_total if run_total else 0.0,
        "pipeline.shuffle_read_mb": sum(t["read_mb"] for t in ledger.tasks),
        "pipeline.spill_mb": sum(t["spill_mb"] for t in ledger.tasks),
        "pipeline.gc_s": sum(t["gc_s"] for t in ledger.tasks),
        "pipeline.task_cpu_s": sum(t["cpu_s"] for t in ledger.tasks),
        "verify.candidates": cands,
        "verify.duplicate_pairs": dups,
        "verify.useful_ratio": dups / cands if cands else 0.0,
        **{f"verify.dup_pairs.{ch}": by_ch.get(ch, 0) for ch in CHANNELS},
        "cc.rounds": len({
            j["props"].get("spark.job.description") for j in ledger.jobs.values()
            if (j["props"].get("spark.job.description") or "").startswith("hsip:cc_round_")
        }),
        **extra,
    })
    return values
