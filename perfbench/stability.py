#!/usr/bin/env python3
"""Run the benchmark several times per workload and summarise the spread.

    python3 perfbench/stability.py [--runs 10] [--sets 1] [--seed0 100]
        [--workload W ...] [--traced] [--out FILE]

Run it from the repository root. For each set and workload, runs `run.py`
`--runs` times with seeds seed0, seed0+1, ... (each set continues the seed
sequence) and prints, per end-to-end metric, the median, the quartiles
(Python's statistics.quantiles(values, n=4)) and the spread: the distance
between the quartiles as a share of the median. A metric other than setup_s
is flagged when its spread is not below a third of its bound in
BENCHMARK.json. With two or more sets, each later set's median is compared
with the first's: a change worse than the bound is flagged. With --traced,
one `--trace 1` run per workload follows. --out writes everything as JSON
(perfbench/BASELINE.json is such a file).
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


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    record = json.loads(lines[-2]) if len(lines) > 1 else {}
    return {"seed": seed, "wall_s": wall, "result": json.loads(lines[-1]), "record": record}


def summarise(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    out = {"run_seconds": spec["run_seconds"], "sets": [], "traced": {}}
    seed = a.seed0
    for k in range(a.sets):
        result = {}
        for w in workloads:
            runs = []
            for _ in range(a.runs):
                r = run_once(w, seed, spec["run_seconds"], False)
                seed += 1
                runs.append(r)
                res = r["result"]
                print(f"set {k + 1} {w} seed {r['seed']}: {r['wall_s']:.0f} s, "
                      f"correct={res['correct']} failed={res['failed']}/{res['attempted']}",
                      flush=True)
            summary = {}
            for n, m in e2e.items():
                s = summarise([r["result"]["metrics"][n]["value"] for r in runs])
                summary[n] = s
                flag = ""
                if n != "setup_s" and s["spread"] >= m["bound"] / 3:
                    flag = f"  SPREAD >= bound/3 ({m['bound'] / 3:.3f})"
                if k > 0:
                    first = out["sets"][0][w]["summary"][n]["median"]
                    worse = (s["median"] - first) / first
                    if m["better"] == "higher":
                        worse = -worse
                    if worse > m["bound"]:
                        flag += f"  MEDIAN WORSE THAN SET 1 BY {worse:.3f}"
                print(f"  {n:12s} median {s['median']:.4g} q1 {s['q1']:.4g} q3 {s['q3']:.4g} "
                      f"spread {s['spread']:.3f}{flag}", flush=True)
            result[w] = {"summary": summary, "runs": runs,
                         "wall_s_total": sum(r["wall_s"] for r in runs)}
        out["sets"].append(result)
    if a.traced:
        for w in workloads:
            r = run_once(w, seed, spec["run_seconds"], True)
            seed += 1
            out["traced"][w] = r
            print(f"traced {w}: correct={r['result']['correct']}", flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
