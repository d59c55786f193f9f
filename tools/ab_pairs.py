#!/usr/bin/env python3
"""Alternating parent/change pairs of the engine benchmark, with a verdict.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload polygon_roundtrip \
        --seeds 3001-3010 [--out runs.jsonl]

For each seed it runs ``perfbench/run.py --workload W --seed S --trace 0``
once in each checkout (its own ``perfbench/``, from that checkout as cwd),
alternating which side goes first, one run at a time. Per end-to-end
metric of BENCHMARK.json it then prints each side's median and quartiles,
the pairs the change won (ties count for neither side), and two verdicts:

- ``gain``: the change won at least 9/10 of the pairs and its median beats
  the parent's by more than the parent's interquartile range;
- ``bound``: the change's median is no worse than the parent's by more
  than the metric's regression bound.

Every run's JSON record is appended to ``--out`` when given, so the
numbers can be re-read. The checkouts are only read and run, never edited.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN_TIMEOUT_S = 900


def run_once(checkout: Path, workload: str, seed: int) -> dict:
    """One untraced benchmark run; its last stdout line, parsed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", "0"]
    failed = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True,
                              text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {**failed, "error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = proc.stdout.strip().splitlines()
    try:
        rec = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec = {**failed, "error": proc.stderr.strip().splitlines()[-1:]}
    rec["returncode"] = proc.returncode
    return rec


def values(rec: dict) -> dict[str, float]:
    """A run's metrics by name; each is reported as {"value", "unit"}."""
    return {k: v["value"] for k, v in rec["metrics"].items()}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(metric: dict, pairs: list[tuple[dict, dict]]) -> dict:
    """Medians, quartiles, wins and the gain/bound verdicts of one metric
    over (parent, change) run pairs where both runs report it."""
    name, lower = metric["name"], metric["better"] == "lower"
    both = [(values(p)[name], values(c)[name]) for p, c in pairs
            if name in p["metrics"] and name in c["metrics"]]
    if not both:
        return {"metric": name, "pairs": 0}
    par = [p for p, _ in both]
    chg = [c for _, c in both]
    pq, cq = quartiles(par), quartiles(chg)
    wins = sum((c < p) if lower else (c > p) for p, c in both)
    gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
    worse = -gap / pq[1] if pq[1] else 0.0
    return {"metric": name, "unit": metric.get("unit", ""),
            "pairs": len(both), "parent_q": pq, "change_q": cq,
            "wins": wins, "rel_change": (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0,
            "gain": wins >= 0.9 * len(both) and gap > pq[2] - pq[0],
            "bound": metric.get("bound"),
            "within_bound": metric.get("bound") is None
            or worse <= metric["bound"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir", type=Path)
    ap.add_argument("change_dir", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B")
    ap.add_argument("--out", type=Path, help="append every run record here")
    args = ap.parse_args()
    lo, hi = (int(s) for s in args.seeds.split("-"))
    sides = {"parent": args.parent_dir.resolve(),
             "change": args.change_dir.resolve()}
    metrics = json.loads(
        (sides["change"] / "BENCHMARK.json").read_text())["end_to_end"]

    pairs, runs = [], []
    for i, seed in enumerate(range(lo, hi + 1)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            rec = run_once(sides[side], args.workload, seed)
            rec.update(side=side, seed=seed, workload=args.workload)
            got[side] = rec
            runs.append(rec)
            if args.out:
                with args.out.open("a") as f:
                    f.write(json.dumps(rec) + "\n")
            print(f"seed {seed} {side}: correct={rec['correct']} "
                  f"failed={rec['failed']}/{rec['attempted']} "
                  + " ".join(f"{k}={v:.4g}"
                             for k, v in sorted(values(rec).items())),
                  file=sys.stderr, flush=True)
        pairs.append((got["parent"], got["change"]))

    print(f"workload {args.workload}, seeds {lo}-{hi}, {len(pairs)} pairs")
    for side in sides:
        rs = [r for r in runs if r["side"] == side]
        print(f"  {side}: {sum(bool(r['correct']) for r in rs)}/{len(rs)} "
              f"runs correct, failed ops "
              f"{sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)}")
    for m in metrics:
        v = verdict(m, pairs)
        if not v["pairs"]:
            print(f"  {m['name']}: no pairs reported it")
            continue
        pq, cq = v["parent_q"], v["change_q"]
        print(f"  {v['metric']} ({v['unit']}, {m['better']} is better): "
              f"parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}] -> "
              f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}] "
              f"({v['rel_change']:+.1%}); change wins {v['wins']}/{v['pairs']}; "
              f"gain={'yes' if v['gain'] else 'no'}; "
              f"bound {v['bound']}: "
              f"{'within' if v['within_bound'] else 'EXCEEDED'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
