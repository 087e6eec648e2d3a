"""Side-by-side perfbench: alternate runs of two checkouts, then summarise.

Runs ``perfbench/run.py --trace 0`` in a parent checkout and a change
checkout, one pair per seed, swapping which side runs first on every other
pair, and appends each run's JSON line (tagged with side, seed and pair) to
a JSONL file.  Then, per workload and metric of BENCHMARK.json, it prints
each side's median and quartiles, the share of pairs the change wins (ties
count for neither), whether the median gap exceeds the parent's IQR, and
a verdict: REGRESSION when the change's median is worse than the parent's
by more than the metric's bound, unresolved when either side's IQR
divided by |parent median| exceeds the bound and the change does not read
better on every run (every change run beats every parent run), else ok.
A gain is claimable when the change wins >= 0.9 of the pairs and the gap
exceeds the parent's IQR.

    python scripts/perfbench_ab.py --parent ../parent --change . \\
        --workload query --seeds 1 2 3 4 5 6 7 8 9 10 --out ab.jsonl
    python scripts/perfbench_ab.py --change . --out ab.jsonl   # summary only
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import numpy as np


def run_one(checkout: str, workload: str, seed: int,
            seconds: float | None) -> dict:
    """One trace-off perfbench run inside checkout; its last stdout line.
    The run length is perfbench's own default unless seconds is given."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", "0"]
    if seconds is not None:
        cmd += ["--seconds", str(seconds)]
    proc = subprocess.run(
        cmd, cwd=checkout, env=env, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "metrics": {},
                  "stderr_tail": proc.stderr[-2000:]}
    result["returncode"] = proc.returncode
    return result


def run_pairs(args) -> None:
    sides = {"parent": args.parent, "change": args.change}
    for pair, seed in enumerate(args.seeds):
        order = ["parent", "change"] if pair % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_one(sides[side], args.workload, seed, args.seconds)
            rec = {"workload": args.workload, "seed": seed, "pair": pair,
                   "side": side, "first": order[0], **res}
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"pair {pair} seed {seed} {side}: rc={res['returncode']} "
                  f"correct={res.get('correct')}", flush=True)


def verdict(par: np.ndarray, chg: np.ndarray, lower: bool,
            bound: float) -> str:
    """ok, REGRESSION (median worse by more than bound) or unresolved
    (run-to-run spread wider than bound and the change not better on every
    run); spread and gap are relative to |parent median|."""
    pq1, pmed, pq3 = np.percentile(par, [25, 50, 75])
    cq1, cmed, cq3 = np.percentile(chg, [25, 50, 75])
    if not pmed:
        return "ok"
    all_better = chg.max() < par.min() if lower else chg.min() > par.max()
    if max(pq3 - pq1, cq3 - cq1) / abs(pmed) > bound and not all_better:
        return "unresolved"
    worse = ((cmed - pmed) if lower else (pmed - cmed)) / abs(pmed)
    return "REGRESSION" if worse > bound else "ok"


def summarise(records: list[dict], benchmark: dict) -> dict:
    """Print the per-metric table of each workload; returns
    {(workload, metric): verdict}."""
    verdicts: dict[tuple[str, str], str] = {}
    by_key: dict[tuple, dict] = {}
    for r in records:
        by_key.setdefault((r["workload"], r["seed"], r["pair"]), {})[r["side"]] = r
    workloads = sorted({k[0] for k in by_key})
    for wl in workloads:
        pairs = [v for k, v in sorted(by_key.items())
                 if k[0] == wl and {"parent", "change"} <= set(v)]
        bad = sum(1 for p in pairs for s in p.values()
                  if s.get("returncode") or not s.get("correct"))
        print(f"\n== workload {wl}: {len(pairs)} pairs, {bad} failed runs")
        print(f"{'metric':<26} {'parent med [q1,q3]':>28} "
              f"{'change med [q1,q3]':>28} {'wins':>5} {'>IQR':>5} bound (gain)")
        for m in benchmark["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            vals = [(p["parent"]["metrics"].get(name, {}).get("value"),
                     p["change"]["metrics"].get(name, {}).get("value"))
                    for p in pairs]
            vals = [(a, b) for a, b in vals if a is not None and b is not None]
            if not vals:
                continue
            par = np.array([a for a, _ in vals], float)
            chg = np.array([b for _, b in vals], float)
            wins = sum((b < a) if lower else (b > a) for a, b in vals)
            pq1, pmed, pq3 = np.percentile(par, [25, 50, 75])
            cq1, cmed, cq3 = np.percentile(chg, [25, 50, 75])
            gap = (pmed - cmed) if lower else (cmed - pmed)
            worse = -gap / abs(pmed) if pmed else 0.0
            v = verdicts[(wl, name)] = verdict(par, chg, lower, m["bound"])
            par_cell = f"{pmed:.4g} [{pq1:.4g},{pq3:.4g}]"
            chg_cell = f"{cmed:.4g} [{cq1:.4g},{cq3:.4g}]"
            print(f"{name:<26} {par_cell:>28} {chg_cell:>28} "
                  f"{wins / len(vals):>5.2f} {'yes' if gap > pq3 - pq1 else 'no':>5} "
                  f"{v} ({-worse:+.1%})")
    return verdicts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="parent checkout (omit to summarise only)")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", help="perfbench workload to run")
    ap.add_argument("--seeds", type=int, nargs="*", default=[])
    ap.add_argument("--seconds", type=float, default=None,
                    help="forwarded to perfbench/run.py (default: its own)")
    ap.add_argument("--out", required=True, help="JSONL file to append to")
    args = ap.parse_args(argv)
    if args.parent:
        if not (args.workload and args.seeds):
            ap.error("--parent needs --workload and --seeds")
        run_pairs(args)
    with open(args.out) as f:
        records = [json.loads(line) for line in f if line.strip()]
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        summarise(records, json.load(f))
    return 0


if __name__ == "__main__":
    sys.exit(main())
