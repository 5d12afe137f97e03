"""Run the benchmark over several seeds and write a record with each
metric's median, quartiles and spread (quartile distance / median).

    python3 perfbench/record.py --out perfbench/baseline/record.json \
        --seeds 1-10 [--workloads backfill,refresh,corpus] [--traced-seed 1]

Runs one benchmark process at a time, from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.getcwd())

from perfbench.harness import quartiles  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return {"seed": seed, "wall_s": wall, "summary": lines[-2] if len(lines) > 1 else "",
            **json.loads(lines[-1])}


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = quartiles(xs)
        out[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med, "q1": q1,
                     "q3": q3, "spread": (q3 - q1) / med if med else None, "values": xs}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--traced-seed", type=int, default=None)
    args = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "nproc": len(os.sched_getaffinity(0)),
              "workloads": {}}
    for w in names:
        runs = [run(w, s, bench["run_seconds"], 0) for s in seeds(args.seeds)]
        entry = {"runs": runs, "end_to_end": summarize(runs),
                 "all_correct": all(r["correct"] for r in runs)}
        if args.traced_seed is not None:
            traced = run(w, args.traced_seed, bench["run_seconds"], 1)
            entry["traced"] = {"seed": args.traced_seed, "correct": traced["correct"],
                               "wall_s": traced["wall_s"],
                               "per_layer": {k: v["value"] for k, v in traced["metrics"].items()}}
        record["workloads"][w] = entry
        for name, s in entry["end_to_end"].items():
            flag = "" if name == "setup_s" or s["spread"] < bounds[name] / 3 else "  <-- spread"
            print(f"{w:9s} {name:22s} median {s['median']:12.4f} q1 {s['q1']:12.4f} "
                  f"q3 {s['q3']:12.4f} spread {s['spread']:.4f} bound {bounds[name]}{flag}",
                  flush=True)
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
