#!/usr/bin/env python3
"""Runs every workload once per seed and reports, per end-to-end metric, the
median and the spread: the distance between the first and third quartile
over the median. With --record, stores the result as the baseline in
perfbench/baseline.json.

    python3 perfbench/steady.py --seeds 1-10 [--workloads commit_resume,...] [--record]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    result = {}
    for w in names:
        values = {m: [] for m in bounds}
        for s in seeds(args.seeds):
            t0 = time.monotonic()
            out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                  "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                  "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{out.stderr[-2000:]}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                sys.exit(f"{w} seed {s}: {res['failed']} of {res['attempted']} failed")
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(w, s, {m: round(v[-1], 4) for m, v in values.items()},
                  f"run {time.monotonic() - t0:.1f} s", flush=True)
        result[w] = {}
        for m, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            result[w][m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                            "bound": bounds[m]}
            print(f"{w} {m}: median {med:.4f} spread {(q3 - q1) / med:.4f} "
                  f"(bound {bounds[m]})", flush=True)
    if args.record:
        path = HERE / "baseline.json"
        doc = json.loads(path.read_text())
        base = doc.setdefault("baseline", {"workloads": {}})
        base.update({"seeds": seeds(args.seeds), "run_seconds": spec["run_seconds"]})
        base["workloads"].update(result)
        path.write_text(json.dumps(doc, indent=2) + "\n")


if __name__ == "__main__":
    main()
