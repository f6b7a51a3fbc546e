"""Compare two result sets of the benchmark (parent vs change).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds, per workload, ``<workload>.jsonl``: the last
stdout line of each untraced run, one per line, and optionally
``<workload>.trace.jsonl`` from traced runs. Run ``i`` of one side is
paired with run ``i`` of the other, so run both sides on the same
seeds, alternating which side goes first.

For every workload and end-to-end metric the command prints each
side's median and quartiles, the fraction of pairs the change wins, and
a verdict under the rule of the choosing-metrics guide (section 8):

- ``better``: the change wins at least 9 of 10 pairs and its median
  beats the parent's by more than the parent's inter-quartile range,
  or every change run beats every parent run;
- ``unresolved``: either side's spread (IQR over median) exceeds the
  metric's bound, so no claim either way can be made;
- ``worse``: the change's median is worse than the parent's by more
  than the bound;
- ``within bound``: otherwise.

Per-layer metrics from traced runs are listed with medians only (they
have no bound), followed by each side's tracing overhead: the median
``trace.cpu_s_per_op`` of its traced runs over the median
``cpu_s_per_op`` of its untraced runs, minus one.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import median, quartiles, spread  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def win_fraction(parent: list[float], change: list[float], better: str) -> float:
    """Share of (parent[i], change[i]) pairs the change wins; ties count
    for neither side."""
    sign = 1.0 if better == "higher" else -1.0
    pairs = list(zip(parent, change))
    return sum(sign * (c - p) > 0 for p, c in pairs) / len(pairs)


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    sign = 1.0 if better == "higher" else -1.0
    pm, cm = median(parent), median(change)
    q1, _, q3 = quartiles(parent)
    if win_fraction(parent, change, better) >= 0.9 and sign * (cm - pm) > q3 - q1:
        return "better"
    if min(sign * c for c in change) > max(sign * p for p in parent):
        return "better"
    worse_by = sign * (pm - cm) / abs(pm) if pm else 0.0
    if max(spread(parent), spread(change)) > bound:
        separated = max(sign * c for c in change) < min(sign * p for p in parent)
        return "worse" if separated and worse_by > bound else "unresolved"
    return "worse" if worse_by > bound else "within bound"


def load(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def values(rows: list[dict], metric: str) -> list[float]:
    return [r["metrics"][metric]["value"] for r in rows if metric in r["metrics"]]


def overhead(untraced: list[dict], traced: list[dict]) -> float | None:
    base, tr = values(untraced, "cpu_s_per_op"), values(traced, "trace.cpu_s_per_op")
    if not base or not tr:
        return None
    return median(tr) / median(base) - 1.0


def fmt(vals: list[float]) -> str:
    q1, med, q3 = quartiles(vals)
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}]"


def compare(parent_dir: str, change_dir: str, bench: dict) -> list[tuple]:
    """Rows of (workload, metric, parent, change, win fraction, verdict)."""
    rows = []
    for w in (x["name"] for x in bench["workloads"]):
        p_runs = load(os.path.join(parent_dir, f"{w}.jsonl"))
        c_runs = load(os.path.join(change_dir, f"{w}.jsonl"))
        if not p_runs or not c_runs:
            continue
        for m in bench["end_to_end"]:
            p, c = values(p_runs, m["name"]), values(c_runs, m["name"])
            if p and c:
                wf = win_fraction(p, c, m["better"])
                rows.append((w, m["name"], fmt(p), fmt(c), f"{wf:.2f}", verdict(p, c, m["better"], m["bound"])))
        p_tr = load(os.path.join(parent_dir, f"{w}.trace.jsonl"))
        c_tr = load(os.path.join(change_dir, f"{w}.trace.jsonl"))
        for m in bench["per_layer"]:
            p, c = values(p_tr, m["name"]), values(c_tr, m["name"])
            if p and c:
                rows.append((w, m["name"], fmt(p), fmt(c), "", ""))
        for side, runs, tr in (("parent", p_runs, p_tr), ("change", c_runs, c_tr)):
            oh = overhead(runs, tr)
            if oh is not None:
                rows.append((w, f"tracing overhead ({side})", f"{oh:+.3f}", "", "", ""))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Compare two benchmark result sets.")
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as f:
        bench = json.load(f)
    rows = compare(args.parent_dir, args.change_dir, bench)
    if not rows:
        print("no workload has results on both sides", file=sys.stderr)
        return 1
    head = ("workload", "metric", "parent median [q1, q3]", "change median [q1, q3]", "wins", "verdict")
    widths = [max(len(str(r[i])) for r in [head, *rows]) for i in range(len(head))]
    for r in [head, *rows]:
        print("  ".join(str(x).ljust(n) for x, n in zip(r, widths)).rstrip())
    return 0


if __name__ == "__main__":
    sys.exit(main())
