"""bench/eager_rung.py end to end: a traced rung on a tiny corpus reads its
rolled event log through perfbench/ledger.py and reports a ledger that
reconciles with the log's own CPU total."""

import importlib.util
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ledger_stages():
    spec = importlib.util.spec_from_file_location(
        "perfbench_ledger", os.path.join(ROOT, "perfbench", "ledger.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.STAGES


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
