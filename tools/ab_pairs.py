"""Alternated pairs of perfbench end-to-end runs of two checkouts.

    python3 tools/ab_pairs.py --parent <checkout> --workload kg_batch --seeds 901-910
    python3 tools/ab_pairs.py --parent <a> --change <b> --workload kg_incremental \
        --seeds 911-920 --out pairs.jsonl

For each seed it runs ``perfbench/run.py --trace 0`` of both checkouts
(``--change`` defaults to the one holding this tool), each unchanged,
in its own directory and one after the other: the parent first at odd
seeds, the change first at even ones. After each pair it prints both
sides' end-to-end metrics and the iteration's phase split, the
calibrated CPU seconds of each phase (``iteration.phases_cal`` of the
``context`` line). At the end it prints, per metric, each side's median
and quartiles over the pairs both sides measured, and the change's wins
(ties count for neither), in the direction the change's
``BENCHMARK.json`` gives the metric; ``gain`` is the claim rule: the
change wins at least nine in ten pairs and its median beats the
parent's by more than the parent's interquartile range. A failed run
is listed, and its pair left out of the summary.

``--out`` appends each run, as parsed, to a JSON-lines file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    """``"901-910"`` or ``"5,7,9"`` -> the seeds."""
    if "-" in text:
        lo, hi = map(int, text.split("-"))
        return list(range(lo, hi + 1))
    return [int(s) for s in text.split(",")]


def run(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run of the checkout at ``root``: its
    end-to-end metrics (null where it measured none), the phase split
    and whether it was correct."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    out = {"root": root, "seed": seed, "wall_s": time.perf_counter() - t0,
           "correct": False, "metrics": {}, "phases": {}}
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        out["error"] = (proc.stderr.strip().splitlines() or ["no output"])[-1]
        return out
    result = json.loads(lines[-1])
    out["correct"] = result["correct"]
    out["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    for line in lines:
        if line.startswith("context "):
            out["phases"] = json.loads(line[len("context "):])["iteration"]["phases_cal"] or {}
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile), inclusive method."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def fmt(side: dict, names: list[str]) -> str:
    metrics = " ".join(f"{n}={_num(side['metrics'].get(n))}" for n in names)
    phases = " ".join(f"{p.removesuffix('_s')}={v:.2f}" for p, v in side["phases"].items())
    status = "ok" if side["correct"] else f"FAILED {side.get('error', 'incorrect')}"
    return f"{metrics} | phases_cal {phases} | {status}"


def _num(v) -> str:
    return "null" if v is None else f"{v:.4g}"


def summary(pairs: list[tuple[dict, dict]], metrics: list[dict]) -> list[dict]:
    """Per metric: each side's quartiles and the change's wins over the
    pairs in which both sides measured it."""
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p["metrics"][name], c["metrics"][name]) for p, c in pairs
                if p["correct"] and c["correct"]
                and p["metrics"].get(name) is not None and c["metrics"].get(name) is not None]
        if not both:
            rows.append({"name": name, "pairs": 0})
            continue
        parent, change = quartiles([b[0] for b in both]), quartiles([b[1] for b in both])
        wins = sum((c < p) if lower else (c > p) for p, c in both)
        gain = parent[1] - change[1] if lower else change[1] - parent[1]
        rows.append({
            "name": name, "pairs": len(both), "parent": parent, "change": change,
            "wins": wins, "gain": wins >= 0.9 * len(both) and gain > parent[2] - parent[0],
        })
    return rows


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True, help="checkout of the parent commit")
    p.add_argument("--change", default=HERE, help="checkout of the change (default: this one)")
    p.add_argument("--workload", required=True, choices=("kg_batch", "kg_incremental"))
    p.add_argument("--seeds", required=True, type=parse_seeds, help='"901-910" or "5,7,9"')
    p.add_argument("--out", help="JSON-lines file each run is appended to")
    args = p.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    metrics = declared["end_to_end"]
    names = [m["name"] for m in metrics]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    pairs = []
    for seed in args.seeds:
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        got = {}
        for side in order:
            got[side] = run(sides[side], args.workload, seed, declared["run_seconds"])
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"side": side, "workload": args.workload, **got[side]}) + "\n")
        pairs.append((got["parent"], got["change"]))
        print(f"seed {seed} ({order[0]} first)", flush=True)
        for side in ("parent", "change"):
            print(f"  {side:6s} {fmt(got[side], names)}", flush=True)

    print(f"\n{args.workload}, {len(pairs)} pairs: median [quartiles]; wins of the change")
    for row in summary(pairs, metrics):
        if not row["pairs"]:
            print(f"  {row['name']}: no pair measured it")
            continue
        (pq1, pmed, pq3), (cq1, cmed, cq3) = row["parent"], row["change"]
        print(f"  {row['name']}: parent {pmed:.4g} [{pq1:.4g}, {pq3:.4g}]  "
              f"change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}]  "
              f"wins {row['wins']}/{row['pairs']}  gain {row['gain']}")
    phases = sorted({ph for pair in pairs for side in pair for ph in side["phases"]})
    for ph in phases:
        meds = []
        for k in (0, 1):
            vals = [pair[k]["phases"][ph] for pair in pairs if ph in pair[k]["phases"]]
            meds.append(f"{statistics.median(vals):.3g}" if vals else "null")
        print(f"  phase {ph}: parent median {meds[0]}  change median {meds[1]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
