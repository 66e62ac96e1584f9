"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workloads floor kv_log --seeds 1-10 \
        [--set A --out perfbench/STEADINESS.json]

For every end-to-end metric: the median, the quartiles as
``statistics.quantiles(values, n=4)`` gives them, and the spread
``(q3 - q1) / median``. A benchmark is accepted when every spread but
that of ``setup_s`` is within the metric's bound in BENCHMARK.json, and
when the medians of a second set with fresh seeds are not worse than
the first set's by more than the bound. The target is a spread below a
third of the bound, which the report marks ``ok``.

Runs are made one after another from the repository root. With
``--out``, the set is stored under ``--set`` in that file, and once the
file holds sets A and B it also gets each median of B over that of A.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def host() -> str:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return f"{len(os.sched_getaffinity(0))} CPUs, {mem_kb / 2**20:.0f} GB RAM, Python {sys.version.split()[0]}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--set", default="A", help="the set's name in --out")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    result = {"seeds": args.seeds}
    for wl in args.workloads:
        runs, walls = [], []
        for seed in seeds(args.seeds):
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                sys.exit(f"{wl} seed {seed} failed:\n{p.stderr[-3000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append(res)
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{wl} seed={seed} wall={walls[-1]:.1f}s correct={res['correct']} {vals}",
                  flush=True)
        metrics = {}
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            metrics[name] = {k: round(v, 4) for k, v in
                             dict(median=med, q1=q1, q3=q3, spread=spread, bound=bound).items()}
            flag = "ok" if spread < bound / 3 else ("within" if spread <= bound else "OVER")
            print(f"  {wl:<7} {name:<14} median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
                  f"spread={spread:.3f} bound={bound} {flag}", flush=True)
        result[wl] = {"runs": len(runs), "all_correct": all(r["correct"] for r in runs),
                      "wall_s_max": round(max(walls), 1), "metrics": metrics}
    if args.out:
        report = {"sets": {}}
        if os.path.exists(args.out):
            with open(args.out) as f:
                report = json.load(f)
        report["host"] = host()
        report["run_seconds"] = bench["run_seconds"]
        report["sets"][args.set] = result
        a, b = report["sets"].get("A"), report["sets"].get("B")
        if a and b:
            report["median_B_over_A"] = {
                wl: {m: round(b[wl]["metrics"][m]["median"] / a[wl]["metrics"][m]["median"], 4)
                     for m in b[wl]["metrics"]}
                for wl in b if wl in a and isinstance(b[wl], dict)
            }
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
