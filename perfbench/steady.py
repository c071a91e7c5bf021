#!/usr/bin/env python3
"""Steadiness check: runs one workload once per seed and prints, for each
end-to-end metric, the median, the quartiles and the quartile spread as a
share of the median (Python's statistics.quantiles(values, n=4)), next to
the metric's bound from BENCHMARK.json, plus each run's stolen CPU.

    python3 perfbench/steady.py --workload <name> [--seeds 1-10] [--seconds N] [--sets 1]

With --sets 2 it runs the seeds twice and also prints the drift between the
two sets' medians. Run from the root of the checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         capture_output=True, text=True, timeout=900)
    lines = [json.loads(x) for x in out.stdout.splitlines() if x.startswith("{")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"run failed: seed {seed}")
    diag = next((x["diag"] for x in lines if "diag" in x), {})
    return lines[-1], diag


def summary(rows, bounds):
    out = {}
    for m in bounds:
        vals = [r["metrics"][m]["value"] for r in rows]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                  "bound": bounds[m]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--sets", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = []
    for s in range(a.sets):
        rows = []
        for seed in seeds_of(a.seeds):
            res, diag = one_run(a.workload, seed, seconds)
            rows.append(res)
            print(json.dumps({"set": s + 1, "seed": seed, "failed": res["failed"],
                              "attempted": res["attempted"],
                              "steal_s": round(diag.get("steal_s", 0.0), 2),
                              "passes": diag.get("passes"),
                              **{m: round(v["value"], 4) for m, v in res["metrics"].items()}}),
                  flush=True)
        sets.append(summary(rows, bounds))
        for m, v in sets[-1].items():
            print(f"set {s + 1} {m:20s} median {v['median']:.4f}  q1 {v['q1']:.4f}  "
                  f"q3 {v['q3']:.4f}  spread {v['spread']:.3f}  bound {v['bound']}", flush=True)
    if len(sets) > 1:
        for m in bounds:
            a0, b0 = sets[0][m]["median"], sets[-1][m]["median"]
            print(f"drift {m:20s} {(b0 - a0) / a0:+.3f}")


if __name__ == "__main__":
    main()
