#!/usr/bin/env python3
"""A/B perfbench pairs between two checkouts of this repository.

    python3 scripts/ab_pairs.py --parent ../parent --change . \\
        --workload console --seeds 301-310 --seconds 15 [--trace 0] [--json out.json]

For each seed, runs `python3 perfbench/run.py --workload W --seed S
--seconds T --trace X` once in each checkout (each from its own root, so each
builds and runs its own code), alternating which side goes first from one
pair to the next. Prints every run's end-to-end metrics and wall time, then
for each metric each side's median and quartiles, the change's median move,
the number of pairs the change won, and whether the medians differ by more
than the parent's interquartile range. The metric names and their better
direction come from the change's BENCHMARK.json.

Exits 1 if any run fails, reports a failed operation, or gives an answer
the benchmark marks incorrect; the summary is printed either way.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seed_list(text):
    """'1,2,5-8' -> [1, 2, 5, 6, 7, 8]"""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.strip().partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(root, workload, seed, seconds, trace):
    """One perfbench run in checkout `root`: (result dict or None, wall s, error)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, wall, f"exit {p.returncode}"
    try:
        return json.loads(lines[-1]), wall, None
    except ValueError:
        return None, wall, "last output line is not JSON"


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True, choices=["refresh", "console", "report"])
    ap.add_argument("--seeds", required=True, help="e.g. 301-310 or 1,4,9")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--json", help="also write every run and the summary to this file")
    a = ap.parse_args()

    roots = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    spec = json.load(open(os.path.join(roots["change"], "BENCHMARK.json")))
    metrics = spec["per_layer" if a.trace else "end_to_end"]
    seeds = seed_list(a.seeds)

    runs = {"parent": [], "change": []}
    bad = []
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result, wall, err = run_once(roots[side], a.workload, seed, a.seconds, a.trace)
            if result is not None and (not result.get("correct") or result.get("failed", 0) > 0):
                err = f"incorrect: {result.get('failed')} of {result.get('attempted')} failed"
            if err:
                bad.append(f"{side} seed {seed}: {err}")
            values = {m["name"]: result["metrics"][m["name"]]["value"]
                      for m in metrics if result and m["name"] in result["metrics"]}
            fail_frac = (result["failed"] / max(1, result["attempted"])) if result else None
            runs[side].append({"seed": seed, "wall_s": round(wall, 1), "error": err,
                               "fail_frac": fail_frac, "metrics": values})
            shown = " ".join(f"{k}={v:g}" for k, v in values.items())
            print(f"pair {i + 1}/{len(seeds)} seed {seed} {side}: {shown} "
                  f"fail_frac={fail_frac} wall_s={wall:.1f}" + (f" ERROR {err}" if err else ""),
                  flush=True)

    summary = {}
    print(f"\n{a.workload}, {len(seeds)} pairs, seeds {a.seeds}, --seconds {a.seconds:g}, "
          f"--trace {a.trace}")
    for m in metrics:
        name = m["name"]
        pairs = [(p["metrics"].get(name), c["metrics"].get(name))
                 for p, c in zip(runs["parent"], runs["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            continue
        lower = m.get("better", "lower") == "lower"
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        pq1, pmed, pq3 = quartiles([p for p, _ in pairs])
        cq1, cmed, cq3 = quartiles([c for _, c in pairs])
        move = (cmed - pmed) / pmed if pmed else float("nan")
        apart = abs(cmed - pmed) > (pq3 - pq1)
        summary[name] = {"parent": [pq1, pmed, pq3], "change": [cq1, cmed, cq3],
                         "move": move, "wins": wins, "pairs": len(pairs),
                         "medians_apart_by_more_than_parent_iqr": apart,
                         "bound": m.get("bound")}
        print(f"  {name} ({m.get('unit', '')}, {'lower' if lower else 'higher'} is better): "
              f"parent {pmed:g} [{pq1:g}, {pq3:g}] -> change {cmed:g} [{cq1:g}, {cq3:g}], "
              f"{move:+.1%}, change better in {wins}/{len(pairs)}, "
              f"medians {'differ by more than' if apart else 'within'} the parent's IQR {pq3 - pq1:g}")
    for side in ("parent", "change"):
        print(f"  wall_s {side}: " + " ".join(str(r["wall_s"]) for r in runs[side]))
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seeds": seeds, "seconds": a.seconds,
                       "trace": a.trace, "runs": runs, "summary": summary, "failures": bad}, f, indent=1)
    for b in bad:
        print(f"FAILED {b}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
