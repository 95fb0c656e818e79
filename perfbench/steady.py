"""Steadiness check: two interleaved sets of benchmark runs on the same code.

    python3 perfbench/steady.py --runs 10

Reads the command, workloads, run length and metrics from BENCHMARK.json.
Runs every workload ``--runs`` times in set A and in set B, alternating A and
B run by run, each run with another seed (set A uses seeds 1..n, set B seeds
n+1..2n).  For every end-to-end metric it prints each set's median and
quartiles, the spread (interquartile distance over median) and how far set
B's median is worse than set A's, both as shares, and whether both spreads
and the distance between the medians, in either direction, stay within the
metric's bound.  It also checks that failed operations are the same share of
attempted ones in both sets.  Every run's result and environment line are
saved to ``<cache root>/steady.json``.  Exit code 0 means every check held.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=gen.CHECKOUT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "exit": p.returncode,
           "wall_s": time.monotonic() - t0}
    if p.returncode != 0 or not lines:
        rec["stderr_tail"] = p.stderr[-2000:]
        return rec
    rec["result"] = json.loads(lines[-1])
    env = [ln for ln in lines if ln.startswith("perfbench-env ")]
    if env:
        rec["env"] = json.loads(env[-1].split(" ", 1)[1])
    return rec


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def judge(bench: dict, records: list[dict]) -> bool:
    ok = True
    for w in [x["name"] for x in bench["workloads"]]:
        sets = {s: [r for r in records if r["workload"] == w and r["set"] == s] for s in "AB"}
        bad = [r for s in "AB" for r in sets[s] if "result" not in r]
        if bad:
            print(f"{w}: {len(bad)} runs without a result")
            ok = False
            continue
        shares = []
        for s in "AB":
            att = sum(r["result"]["attempted"] for r in sets[s])
            fail = sum(r["result"]["failed"] for r in sets[s])
            correct = all(r["result"]["correct"] for r in sets[s])
            shares.append((fail, att))
            walls = [r["wall_s"] for r in sets[s]]
            print(f"{w} set {s}: {len(sets[s])} runs, attempted {att}, failed {fail}, "
                  f"all correct {correct}, wall median {statistics.median(walls):.1f} s "
                  f"max {max(walls):.1f} s")
            ok &= correct
        if shares[0][0] * shares[1][1] != shares[1][0] * shares[0][1]:
            print(f"{w}: failed share differs between sets {shares}")
            ok = False
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = {}
            for s in "AB":
                vals = [r["result"]["metrics"][name]["value"] for r in sets[s]]
                stats[s] = quartiles(vals)
            worse = {"lower": 1, "higher": -1}[m["better"]]
            a_med, b_med = stats["A"][1], stats["B"][1]
            drift = worse * (b_med - a_med) / a_med
            spreads = {s: (q3 - q1) / med for s, (q1, med, q3) in stats.items()}
            line_ok = all(v <= bound for v in spreads.values()) and abs(drift) <= bound
            ok &= line_ok
            print(f"  {name:20s} bound {bound:.2f} | "
                  + " | ".join(f"{s}: med {stats[s][1]:.4g} q1 {stats[s][0]:.4g} "
                               f"q3 {stats[s][2]:.4g} spread {spreads[s]:.3f}" for s in "AB")
                  + f" | B worse by {drift:+.3f} -> {'ok' if line_ok else 'OUT OF BOUND'}")
    return ok


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per workload per set")
    a = ap.parse_args(argv)

    with open(os.path.join(gen.CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    records = []
    for i in range(a.runs):
        for s in ("AB" if i % 2 == 0 else "BA"):
            seed = 1 + i + (a.runs if s == "B" else 0)
            for w in names:
                rec = run_once(bench, w, seed)
                rec["set"] = s
                records.append(rec)
                print(f"[{s} {w} seed {seed}] exit {rec['exit']} {rec['wall_s']:.1f} s",
                      flush=True)
    out = os.path.join(gen.cache_root(), "steady.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(records, f, indent=1)
    return 0 if judge(bench, records) else 1


if __name__ == "__main__":
    sys.exit(main())
