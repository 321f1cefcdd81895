"""bench/eager_rung.py end to end: a traced rung on a tiny corpus reads its
rolled event log through perfbench/ledger.py and reports a ledger that
reconciles with the log's own CPU total; a local-cluster rung labels like
the local one and leaves no executor behind. Its scaling-efficiency
arithmetic is checked without Spark."""

import importlib.util
import json
import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name, *path):
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, *path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rung(master, n_base, wall, checksum="c1", cands=1000, n_turns=None):
    return {"master": master, "n_base": n_base, "n_turns": n_turns or 30 * n_base,
            "wall_s": wall, "label_checksum": checksum, "collapse_exact": False,
            "verified_candidates": cands}


def test_efficiency_strong_weak_and_work_normalized():
    eff = _load("eager_rung", "bench", "eager_rung.py").efficiency
    one, four = "local-cluster[1,1,4096]", "local-cluster[4,1,4096]"
    # strong: one corpus; medians, not minima (the 10 s outlier is ignored)
    got = eff([_rung(one, 2000, w) for w in (100, 90, 110)],
              [_rung(four, 2000, w) for w in (30, 10, 31, 32)])
    assert got["mode"] == "strong" and got["core_ratio"] == 4
    assert got["median_wall_s"] == [100, 30.5]
    assert got["efficiency"] == got["efficiency_work"] == round(100 / (4 * 30.5), 3)
    # weak: 4x the corpus at 4x the cores; the work grew 5x, not 4x
    got = eff([_rung(one, 2000, 100, cands=1000, n_turns=60_000)],
              [_rung(four, 8000, 125, "c4", cands=5000, n_turns=240_000)])
    assert got["mode"] == "weak" and got["label_checksums"] == ["c1", "c4"]
    assert got["efficiency"] == 0.8
    assert got["efficiency_work"] == 1.0
    # the level ratio comes from the masters' cores, here 2 -> 8
    got = eff([_rung("local[2]", 100, 40)], [_rung("local-cluster[2,4,1024]", 400, 50, "c4")])
    assert got["core_ratio"] == 4 and got["mode"] == "weak"


def test_efficiency_refuses_unequal_labels_and_off_ratio_corpora():
    eff = _load("eager_rung", "bench", "eager_rung.py").efficiency
    one, four = "local-cluster[1,1,4096]", "local-cluster[4,1,4096]"
    with pytest.raises(ValueError, match="label differently"):
        eff([_rung(one, 2000, 100)], [_rung(four, 2000, 30, "c2")])
    with pytest.raises(ValueError, match="corpus ratio 2 is not the core ratio 4"):
        eff([_rung(one, 2000, 100)], [_rung(four, 4000, 30, "c2")])
    with pytest.raises(ValueError, match="must share"):
        eff([_rung(one, 2000, 100), _rung(one, 2000, 100, "c2")], [_rung(four, 2000, 30)])


def _ledger_stages():
    return _load("perfbench_ledger", "perfbench", "ledger.py").STAGES


def test_traced_rung_reports_a_trusted_ledger(tmp_path):
    env = {**os.environ, "HSIP_DRIVER_MEM": "2g", "SPARK_GRAFT_CPUS": "2"}
    # run from elsewhere: the tool finds the checkout from its own path
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench", "eager_rung.py"), "40",
         "--trace", "--work", str(tmp_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["ledger_problems"] == []
    assert out["log_segments"] >= 1
    assert out["pipeline.jobs"] > 0
    missing = [f"{layer}.{stage}.task_cpu_s" for layer, stage, _ in _ledger_stages()
               if f"{layer}.{stage}.task_cpu_s" not in out]
    assert missing == []
    assert out["n_rows"] > 0 and out["label_checksum"]


def _executor_pids():
    """Spark executor JVMs visible to this process (a local-cluster master
    runs its workers inside the driver JVM, its executors as processes)."""
    pids = set()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"CoarseGrainedExecutorBackend" in f.read():
                    pids.add(pid)
        except OSError:
            continue
    return pids


def test_local_cluster_rung_labels_like_local_and_leaves_no_executor(tmp_path):
    env = {**os.environ, "HSIP_DRIVER_MEM": "2g", "SPARK_GRAFT_CPUS": "2"}
    before = _executor_pids()

    def rung(*flags):
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "bench", "eager_rung.py"), "40",
             "--work", str(tmp_path), *flags],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    cluster = rung("--master", "local-cluster[2,1,1024]")
    local = rung()
    assert (cluster["master"], local["master"]) == ("local-cluster[2,1,1024]", "local[2]")
    assert cluster["label_checksum"] == local["label_checksum"]
    assert cluster["n_rows"] == local["n_rows"] > 0
    # executors exit once the stopped driver is gone; give them a moment
    deadline = time.time() + 60
    while _executor_pids() - before and time.time() < deadline:
        time.sleep(1)
    assert _executor_pids() - before == set()
