#!/usr/bin/env python3
"""Steadiness check: is the benchmark quieter than its own bounds?

    python3 perfbench/steady.py                      # 2 sets x 10 seeds, every workload
    python3 perfbench/steady.py --sets 1 --runs 5 --workloads pit_zipf

Runs ``run.py`` (as BENCHMARK.json's ``command`` names it) once per
seed and workload, interleaving workloads so a change in host load
spreads over all of them. Set ``k`` uses seeds ``1 + k*runs ...``.
For every end-to-end metric it prints, per set, the median and the
spread (third minus first quartile, over the median), and the drift of
each later set's median from the first set's, in the metric's worse
direction. A spread above a third of the bound, or a drift above the
bound, is flagged. ``setup_s``'s spread is only reported: a run sets up
once, so its spread is that of single samples, and the acceptance rule
this mirrors checks only its drift. The second-seed check then runs
each workload once more on seed ``1 + sets*runs``, which no set used,
and flags a metric that lands outside the first set's median by more
than its bound. Every run's output is saved under
.perfbench_work/steady/. Exit status is 1 when anything is flagged or
any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(bench: dict, workload: str, seed: int, trace: int = 0) -> dict | None:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None
    out = json.loads(lines[-1])
    out["record"] = next((json.loads(x)["perfbench_run"] for x in lines[:-1]
                          if x.startswith('{"perfbench_run"')), None)
    out["wall_s"] = wall
    out["seed"] = seed
    out["workload"] = workload
    print(f"  {workload} seed {seed}: {wall:.1f} s, correct={out['correct']}, "
          + ", ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def worse_by(base: float, new: float, better: str) -> float:
    """Share of ``base`` by which ``new`` is worse (negative when better)."""
    if not base:
        return 0.0 if new == base else float("inf")
    return (new - base) / base if better == "lower" else (base - new) / base


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=10, help="seeds per set and workload")
    ap.add_argument("--sets", type=int, default=2)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    metrics = bench["end_to_end"]
    runs: dict = {w: [[] for _ in range(args.sets)] for w in names}
    failed = 0
    for s in range(args.sets):
        print(f"set {s + 1}", flush=True)
        for k in range(args.runs):
            seed = 1 + s * args.runs + k
            for w in names:
                r = one_run(bench, w, seed)
                if r is None or not r["correct"]:
                    failed += 1
                if r is not None:
                    runs[w][s].append(r)

    flagged = 0
    print(f"\n{'workload':<15} {'metric':<12} {'bound':>6}  "
          + "  ".join(f"{'set' + str(s + 1) + ' median':>13} {'spread':>7}" for s in range(args.sets))
          + "  drift")
    for w in names:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cells, meds = [], []
            for s in range(args.sets):
                vals = [r["metrics"][name]["value"] for r in runs[w][s]]
                if not vals:
                    cells.append(f"{'-':>13} {'-':>7}")
                    meds.append(None)
                    continue
                med, spr = spread(vals)
                meds.append(med)
                mark = "!" if name != "setup_s" and spr > bound / 3 else " "
                flagged += mark == "!"
                cells.append(f"{med:>13.5g} {spr:>6.1%}{mark}")
            drifts = []
            for med in meds[1:]:
                if med is None or meds[0] is None:
                    continue
                d = worse_by(meds[0], med, m["better"])
                drifts.append(f"{d:+.1%}" + ("!" if d > bound else ""))
                flagged += d > bound
            print(f"{w:<15} {name:<12} {bound:>6.2f}  " + "  ".join(cells) + "  " + " ".join(drifts))

    second, second_runs = 1 + args.sets * args.runs, {}
    print(f"\nsecond seed {second}")
    for w in names:
        r = one_run(bench, w, second)
        if r is None or not r["correct"]:
            failed += 1
            continue
        second_runs[w] = r
        for m in metrics:
            base = [x["metrics"][m["name"]]["value"] for x in runs[w][0]]
            if not base:
                continue
            d = worse_by(statistics.median(base), r["metrics"][m["name"]]["value"], m["better"])
            bad = d > m["bound"]
            flagged += bad
            print(f"  {w:<15} {m['name']:<12} {d:+.1%} vs set 1 median"
                  + ("  ! beyond bound" if bad else ""))

    out_dir = os.path.join(ROOT, ".perfbench_work", "steady")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, time.strftime("%Y%m%d-%H%M%S") + ".json")
    with open(path, "w") as fh:
        json.dump({"sets": runs, "second_seed": second_runs}, fh)
    print(f"\n{failed} failed runs, {flagged} flags; runs saved to {os.path.relpath(path, ROOT)}")
    return 1 if failed or flagged else 0


if __name__ == "__main__":
    sys.exit(main())
