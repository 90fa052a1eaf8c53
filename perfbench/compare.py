"""Compare benchmark results of a parent tree and a change.

    # alternate parent / change runs of the same benchmark code, same seeds
    python3 perfbench/compare.py pair --parent-root ../parent --change-root . \\
        --workload lake_reads --runs 10 \\
        --parent-out parent.jsonl --change-out change.jsonl

    # label every (metric, workload) pair
    python3 perfbench/compare.py judge parent.jsonl change.jsonl

    # tracing overhead: traced minus untraced end-to-end medians
    python3 perfbench/compare.py overhead untraced.jsonl traced.jsonl

Result files hold one JSON object per line, ``{"record": ..., "result":
...}``, as ``run.py --out`` appends them.  ``judge`` pairs the i-th
parent run of a workload with the i-th change run.  A metric is
*improved* when the change wins at least 9 of every 10 pairs (ties count
for neither side) and the medians differ by more than the parent's
interquartile range; *regressed* when the change's median is worse than
the parent's by more than the metric's bound in BENCHMARK.json;
*unresolved* when the parent's own spread is wider than the bound and the
change does not beat every parent run; *unchanged* otherwise.  Per-layer
metrics have no bound: they are reported as improved, worsened (the
mirror of the gain rule) or unchanged.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import quartiles  # noqa: E402


def load(path: str) -> dict[str, list[dict]]:
    """workload -> [metrics dict of each run, in file order]"""
    out: dict[str, list[dict]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            if line.strip():
                row = json.loads(line)
                out[row["record"]["workload"]].append(
                    {k: v["value"] for k, v in row["result"]["metrics"].items()}
                )
    return out


def spec() -> dict[str, dict]:
    """Metric specs from the BENCHMARK.json next to this directory."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def label(parent: list[float], change: list[float], better: str, bound: float | None) -> dict:
    n = min(len(parent), len(change))
    parent, change = parent[:n], change[:n]
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    iqr = p3 - p1
    gap = sign * (cm - pm)
    need = math.ceil(0.9 * n)
    if wins >= need and gap > iqr:
        verdict = "improved"
    elif bound is None:
        verdict = "worsened" if losses >= need and -gap > iqr else "unchanged"
    elif -gap > bound * abs(pm):
        verdict = "regressed"
    elif pm and iqr / abs(pm) > bound and not all(
        sign * (c - p) > 0 for c in change for p in parent
    ):
        verdict = "unresolved"
    else:
        verdict = "unchanged"
    return {
        "verdict": verdict,
        "pairs": n,
        "wins": wins,
        "parent": [p1, pm, p3],
        "change": [c1, cm, c3],
        "ratio": cm / pm if pm else None,
    }


def judge(args) -> int:
    parent, change = load(args.parent), load(args.change)
    metrics = spec()
    rows = []
    for wl in sorted(set(parent) & set(change)):
        names = sorted(set(parent[wl][0]) & set(change[wl][0]))
        for name in names:
            m = metrics.get(name, {"better": "lower"})
            res = label(
                [r[name] for r in parent[wl]],
                [r[name] for r in change[wl]],
                m["better"],
                m.get("bound"),
            )
            rows.append({"workload": wl, "metric": name, **res})
            print(
                f"{wl:12s} {name:34s} {res['verdict']:10s} wins {res['wins']}/{res['pairs']}"
                f"  parent {res['parent'][1]:.4g} [{res['parent'][0]:.4g}, {res['parent'][2]:.4g}]"
                f"  change {res['change'][1]:.4g} [{res['change'][0]:.4g}, {res['change'][2]:.4g}]"
            )
    return 1 if any(r["verdict"] == "regressed" for r in rows) else 0


def overhead(args) -> int:
    untraced, traced = defaultdict(list), defaultdict(list)
    for path, dest, key in ((args.untraced, untraced, "end_to_end"),
                            (args.traced, traced, "traced_end_to_end")):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    rec = json.loads(line)["record"]
                    dest[rec["workload"]].append(rec[key])
    for wl in sorted(set(untraced) & set(traced)):
        for name in sorted(untraced[wl][0]):
            u = quartiles([r[name] for r in untraced[wl]])[1]
            t = quartiles([r[name] for r in traced[wl]])[1]
            if u:
                print(f"{wl:12s} {name:14s} untraced {u:.4g}  traced {t:.4g}  "
                      f"overhead {t - u:+.4g} ({(t - u) / u:+.1%})")
    return 0


def pair(args) -> int:
    """Alternate parent and change runs (parent first on even pairs),
    both with this benchmark code, each pair on its own seed."""
    run_py = os.path.join(HERE, "run.py")
    # the run length is the benchmark's, the same for both sides
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    sides = {"parent": (args.parent_root, args.parent_out),
             "change": (args.change_root, args.change_out)}
    for i in range(args.runs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            root, out = sides[side]
            cmd = [sys.executable, run_py, "--workload", args.workload,
                   "--seed", str(args.seed + i), "--seconds", str(seconds),
                   "--trace", str(args.trace), "--root", os.path.abspath(root),
                   "--out", os.path.abspath(out)]
            print(f"pair {i} {side}: seed {args.seed + i}", flush=True)
            subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    j = sub.add_parser("judge")
    j.add_argument("parent")
    j.add_argument("change")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    p = sub.add_parser("pair")
    p.add_argument("--parent-root", required=True)
    p.add_argument("--change-root", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--parent-out", required=True)
    p.add_argument("--change-out", required=True)
    args = ap.parse_args(argv)
    return {"judge": judge, "overhead": overhead, "pair": pair}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
