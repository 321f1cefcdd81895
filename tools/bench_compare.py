"""Bench regression gate: per-query or per-metric delta table between two
benchmark outputs.

Usage: python tools/bench_compare.py OLD NEW [--update-md]

OLD and NEW are either

- ``bench.py`` JSONs (VERDICT.md r1 item 10): a per-query table, and
  ``--update-md`` rewrites the block between ``<!-- bench-delta:begin -->``
  / ``<!-- bench-delta:end -->`` markers in BENCH/BASELINE.md (appends the
  block if missing); or
- ``perfbench/run.py`` output: files holding one or more of its result
  lines (``{"correct", ..., "metrics": {name: {"value", "unit"}}}``; other
  lines, such as the ``name value unit`` lines, are skipped). A file of
  several runs (one arm of an A/B) compares by the per-metric median;
  ``--trace 0`` lines give the end-to-end table, ``--trace 1`` lines the
  per-layer ledger. Each row: old and new median with unit, the delta in
  percent, and the old arm's quartile range, so a delta inside it reads
  as noise. ``better`` (lower/higher) and the bound come from
  BENCHMARK.json when it names the metric.

Reading the deltas: the host is shared (±2x run-to-run noise on small
queries — see BENCH/BASELINE.md) so single-digit-percent moves are
noise; flag only >30% regressions on queries longer than ~5s.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN, END = "<!-- bench-delta:begin -->", "<!-- bench-delta:end -->"


def delta_table(old: dict, new: dict, old_name: str, new_name: str) -> str:
    lines = [
        f"| query | {old_name} (s) | {new_name} (s) | delta |",
        "|---|---|---|---|",
    ]
    oq, nq = old.get("queries", {}), new.get("queries", {})
    for q in sorted(set(oq) | set(nq)):
        a, b = oq.get(q), nq.get(q)
        if a is None or b is None:
            d = "added" if a is None else "removed"
            lines.append(f"| {q} | {a if a is not None else '—'} | "
                         f"{b if b is not None else '—'} | {d} |")
            continue
        pct = (b - a) / a * 100 if a else 0.0
        lines.append(f"| {q} | {a:.2f} | {b:.2f} | {pct:+.0f}% |")
    a, b = old.get("value"), new.get("value")
    if a and b:
        lines.append(f"| **total** | **{a:.1f}** | **{b:.1f}** | **{(b-a)/a*100:+.0f}%** |")
    return "\n".join(lines)


def result_lines(path: str) -> list[dict]:
    """The ``perfbench/run.py`` result lines in ``path``, in order."""
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                d = json.loads(line)
            except ValueError:
                continue
            if isinstance(d.get("metrics"), dict):
                out.append(d)
    return out


def _declared() -> dict[str, dict]:
    try:
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            b = json.load(f)
    except (OSError, ValueError):
        return {}
    return {m["name"]: m for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def _fmt(v: float) -> str:
    return f"{v:.4g}"


def metrics_table(old: list[dict], new: list[dict], old_name: str,
                  new_name: str) -> str:
    """Per-metric medians of two arms of result lines, with the delta."""
    declared = _declared()

    def values(runs):
        vals: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        for r in runs:
            for name, m in r["metrics"].items():
                vals.setdefault(name, []).append(m["value"])
                units[name] = m.get("unit", "")
        return vals, units

    ov, ou = values(old)
    nv, nu = values(new)
    lines = [
        f"runs: {old_name} {len(old)} (failed {sum(r.get('failed', 0) for r in old)}), "
        f"{new_name} {len(new)} (failed {sum(r.get('failed', 0) for r in new)})",
        "",
        f"| metric | unit | {old_name} | {new_name} | delta | {old_name} IQR | better | bound |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in list(ov) + [n for n in nv if n not in ov]:
        a, b = ov.get(name), nv.get(name)
        unit = ou.get(name) or nu.get(name, "")
        decl = declared.get(name, {})
        better, bound = decl.get("better", ""), decl.get("bound", "")
        if a is None or b is None:
            lines.append(f"| {name} | {unit} | {_fmt(statistics.median(a)) if a else '—'} "
                         f"| {_fmt(statistics.median(b)) if b else '—'} | "
                         f"{'added' if a is None else 'removed'} | | {better} | {bound} |")
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        pct = f"{(mb - ma) / abs(ma) * 100:+.1f}%" if ma else ("0" if mb == ma else "new")
        iqr = ""
        if len(a) >= 2:
            q = statistics.quantiles(a, n=4)
            iqr = _fmt(q[2] - q[0])
        lines.append(f"| {name} | {unit} | {_fmt(ma)} | {_fmt(mb)} | {pct} | {iqr} "
                     f"| {better} | {bound} |")
    return "\n".join(lines)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    update = "--update-md" in sys.argv
    old_p, new_p = args[0], args[1]
    name = lambda p: os.path.splitext(os.path.basename(p))[0]  # noqa: E731
    old_runs, new_runs = result_lines(old_p), result_lines(new_p)
    if old_runs and new_runs:
        print(metrics_table(old_runs, new_runs, name(old_p), name(new_p)))
        return

    def load(p):
        with open(p) as f:
            d = json.load(f)
        # driver BENCH_r{N}.json wraps the bench line under "parsed"
        return d.get("parsed", d) if isinstance(d.get("parsed"), dict) else d

    old, new = load(old_p), load(new_p)
    table = delta_table(old, new, name(old_p), name(new_p))
    print(table)
    if update:
        md = os.path.join(REPO, "BENCH", "BASELINE.md")
        with open(md) as f:
            text = f.read()
        block = f"{BEGIN}\n### Per-query delta: {name(old_p)} -> {name(new_p)}\n\n{table}\n{END}"
        if BEGIN in text:
            pre = text[: text.index(BEGIN)]
            post = text[text.index(END) + len(END):]
            text = pre + block + post
        else:
            text = text.rstrip() + "\n\n" + block + "\n"
        with open(md, "w") as f:
            f.write(text)
        print(f"\nupdated {md}")


if __name__ == "__main__":
    main()
