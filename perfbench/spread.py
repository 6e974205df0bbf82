"""Runs the benchmark on several seeds and reports, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) as a share of the median,
next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload plant_uq --seeds 1-10 [--out f.json]

Run from the checkout root. Each run is a separate process, as the
benchmark is normally invoked.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                            "--trace", str(a.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        took = time.time() - t0
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print("seed %d: exit %d\n%s" % (s, r.returncode, r.stderr[-2000:]), file=sys.stderr)
            sys.exit(1)
        res = json.loads(lines[-1])
        cond = json.loads(lines[-2])["conditions"]
        runs.append({"seed": s, "run_s": took, "conditions": cond, "result": res})
        print("seed %d: %.1f s correct=%s failed=%d" % (s, took, res["correct"], res["failed"]),
              file=sys.stderr)
    names = list(runs[0]["result"]["metrics"])
    first = runs[0]["conditions"]
    report = {"workload": a.workload, "trace": a.trace, "seeds": seeds(a.seeds),
              "commit": first.get("commit"), "source_sha": first.get("source_sha"),
              "run_s": [r["run_s"] for r in runs],
              "host_steal_s": [r["conditions"].get("host_steal_s") for r in runs],
              "warmup_s": [r["conditions"].get("warmup_s") for r in runs],
              "metrics": {}}
    for n in names:
        vals = [r["result"]["metrics"][n]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        report["metrics"][n] = {"median": med, "spread": spread, "bound": bounds.get(n),
                                "values": vals}
        print("%-20s median %12.4f  spread %6.3f  bound %s" % (n, med, spread, bounds.get(n)))
    print("run seconds: median %.1f max %.1f" % (statistics.median(report["run_s"]),
                                                  max(report["run_s"])))
    report["conditions"] = [r["conditions"] for r in runs]
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
