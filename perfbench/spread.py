"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed (`--trace 0`) and reports, for each
end-to-end metric, the median and the distance between the first and third
quartile as a share of the median (`statistics.quantiles(values, n=4)`),
next to the metric's bound in BENCHMARK.json. A run refused for CPU steal
(exit 4) is left out of the figures and listed.

Usage (from the repository root):
  python3 perfbench/spread.py --workload ram_project --seeds 1-10 [--out spread.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
        runs.append({"seed": s, "exit": r.returncode, "result": last})
        vals = {k: round(v["value"], 4) for k, v in last.get("metrics", {}).items()}
        print(f"seed {s} exit {r.returncode} {vals}", file=sys.stderr, flush=True)
    refused = [r["seed"] for r in runs if r["exit"] == 4]
    if refused:
        print(f"refused for CPU steal, left out: seeds {refused}")
    runs_ok = [r for r in runs if r["exit"] == 0]
    names = sorted({k for r in runs_ok for k in r["result"].get("metrics", {})})
    summary = {}
    for n in names:
        vals = [r["result"]["metrics"][n]["value"] for r in runs_ok]
        if len(vals) >= 2:
            med, sp = spread(vals)
            summary[n] = {"median": med, "iqr_share": sp, "bound": bounds.get(n), "n": len(vals)}
            print(f"{n:20s} median {med:10.4f}  iqr/median {sp:.4f}  bound {bounds.get(n)}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "runs": runs, "summary": summary}, f, indent=1)
    return 0 if all(r["exit"] in (0, 4) for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
