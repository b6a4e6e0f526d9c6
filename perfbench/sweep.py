"""Run the benchmark over several seeds, in one or more sets, and
summarize each end-to-end metric per set: median, quartiles, and the
quartile spread as a share of the median, next to the metric's bound (a
spread should stay under a third of it). With ``--out`` it also makes
one traced run per workload and writes the whole record, which is how
``baseline.json`` is made:

    python3 perfbench/sweep.py --sets 2 --seeds 1-10 --out perfbench/baseline.json

``--workload`` (repeatable) restricts the workloads; by default every
workload in BENCHMARK.json runs. Sets run one after another, each going
through every workload and seed; every run is its own process, invoked
exactly as the benchmark is, from the repository root.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
HOST_KEYS = ("master", "cores", "ram_gb", "driver_heap", "spark", "python")


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO_ROOT, capture_output=True, text=True, check=True,
    )
    lines = out.stdout.strip().splitlines()
    diag = next(json.loads(line) for line in lines if line.startswith('{"workload"'))
    return {"diag": diag, "result": json.loads(lines[-1]), "run_s": round(time.time() - t0, 1)}


def summarize(runs: list[dict], bounds: dict[str, float]) -> dict[str, dict]:
    out = {}
    for name, bound in bounds.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": med, "q1": q1, "q3": q3, "spread": round((q3 - q1) / med, 4),
                     "bound": bound, "values": vals}
    return out


def table(summary: dict[str, dict]) -> str:
    rows = []
    for name, m in summary.items():
        flag = "" if name == "setup_s" or m["spread"] < m["bound"] / 3 else "  <-- spread >= bound/3"
        rows.append(
            f"  {name:14s} median {m['median']:12.4f}  q1 {m['q1']:12.4f}  q3 {m['q3']:12.4f}  "
            f"spread {m['spread']:6.3f}  bound {m['bound']:.2f}{flag}"
        )
    return "\n".join(rows)


def drift(first: dict, later: dict, better: dict[str, str]) -> dict[str, float]:
    """How much worse each metric's median reads in a later set than in
    the first, as a share of the first (negative: better)."""
    out = {}
    for name, m in first.items():
        change = later[name]["median"] / m["median"] - 1.0
        out[name] = round(change if better[name] == "lower" else -change, 4)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    seconds = manifest["run_seconds"]
    workloads = args.workload or [w["name"] for w in manifest["workloads"]]
    bounds = {m["name"]: m["bound"] for m in manifest["end_to_end"]}
    better = {m["name"]: m["better"] for m in manifest["end_to_end"]}
    report: dict = {
        "about": "Made by `python3 perfbench/sweep.py " + " ".join(sys.argv[1:]) + "`: "
        f"{args.sets} set(s) of untraced runs, one after another, each set going through "
        f"every workload with seeds {args.seeds[0]}-{args.seeds[-1]}; then one traced run "
        f"per workload (seed {args.seeds[0]}) for the per-layer numbers, per traced pass. "
        "Spread = (q3 - q1) / median; drift = how much worse a set's median reads than the "
        "first set's, as a share of it; run_s = wall seconds of each whole run.",
        "date": datetime.date.today().isoformat(),
        "run_seconds": seconds,
        "workloads": {wl: {"sets": []} for wl in workloads},
    }
    for s in range(args.sets):
        for wl in workloads:
            runs = []
            for seed in args.seeds:
                r = run_once(wl, seed, seconds, 0)
                runs.append(r)
                res = r["result"]
                values = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
                print(f"set {s + 1} {wl} seed {seed}: correct={res['correct']} failed={res['failed']}/"
                      f"{res['attempted']} run_s={r['run_s']} pass_s={r['diag']['pass_s']} "
                      f"rss_jvm_py={r['diag']['peak_rss_mb_jvm_py']} {json.dumps(values)}", flush=True)
            report.setdefault("host", {k: runs[0]["diag"][k] for k in HOST_KEYS})
            entry = {
                "seeds": args.seeds,
                "all_correct": all(r["result"]["correct"] for r in runs),
                "run_s": [r["run_s"] for r in runs],
                "loadavg_start": [r["diag"]["loadavg_start"] for r in runs],
            }
            if len(runs) >= 2:
                entry["end_to_end"] = summarize(runs, bounds)
                print(f"set {s + 1} {wl}:\n{table(entry['end_to_end'])}", flush=True)
            report["workloads"][wl]["sets"].append(entry)
    for wl in workloads:
        sets = report["workloads"][wl]["sets"]
        if len(sets) > 1 and "end_to_end" in sets[0]:
            report["workloads"][wl]["drift"] = [
                drift(sets[0]["end_to_end"], later["end_to_end"], better) for later in sets[1:]
            ]
            print(f"{wl} drift vs set 1: {report['workloads'][wl]['drift']}", flush=True)
    if args.out:
        for wl in workloads:
            r = run_once(wl, args.seeds[0], seconds, 1)
            report["workloads"][wl]["per_layer"] = {
                "seed": args.seeds[0],
                "correct": r["result"]["correct"],
                "run_s": r["run_s"],
                "metrics": {k: round(v["value"], 5) for k, v in r["result"]["metrics"].items()},
            }
            print(f"traced {wl}: correct={r['result']['correct']} run_s={r['run_s']}", flush=True)
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
