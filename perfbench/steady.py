#!/usr/bin/env python3
"""Steadiness command: runs one workload N times, each with another
seed, and prints per metric the median, the quartiles and
(q3 - q1) / median, the spread the benchmark's bounds are judged
against, next to the bound from BENCHMARK.json. Run from the
repository root:

    python3 perfbench/steady.py --workload fraud_stream --runs 10
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import accounting  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in
              bench["end_to_end"] + bench["per_layer"]}
    results = []
    for seed in range(1, a.runs + 1):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", "0"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            raise SystemExit(f"run with seed {seed} failed ({p.returncode})")
        r = json.loads(last)
        r["seed"] = seed
        results.append(r)
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
    print(f"\n{a.workload}, {a.runs} runs, {bench['run_seconds']} s each")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, m in results[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in results]
        med, q1, q3, sp = accounting.spread(vals) if len(vals) > 1 else (vals[0],) * 3 + (0.0,)
        b = bounds.get(name)
        print(f"{name:34} {med:12.5g} {q1:12.5g} {q3:12.5g} {sp:8.3f} "
              f"{'' if b is None else b:>6} {m['unit']}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed share per run: {sorted(shares)}; all correct: "
          f"{all(r['correct'] for r in results)}")


if __name__ == "__main__":
    main()
