"""Run-to-run spread of the end-to-end metrics.

Usage: python3 perfbench/spread.py WORKLOAD SEED [SEED...] [--trace 1]

Runs the benchmark once per seed, sequentially, and prints for each
metric its median, quartiles and spread (quartile distance over median,
as statistics.quantiles(values, n=4) gives the quartiles) beside the
bound in BENCHMARK.json, plus each run's own wall time. Results whose
host fingerprint (CPU model, cores) differs from the first run's are
flagged and left out of the statistics.
"""
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main(argv):
    trace = "0"
    if "--trace" in argv:
        i = argv.index("--trace")
        trace = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    workload, seeds = argv[0], argv[1:]
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values, walls, host = {}, [], None
    for seed in seeds:
        t0 = time.time()
        r = subprocess.run(["python3", str(HERE / "run.py"), "--workload", workload,
                            "--seed", seed, "--seconds", str(bench["run_seconds"]),
                            "--trace", trace], cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            continue
        last = json.loads(r.stdout.strip().splitlines()[-1])
        res = json.loads((ROOT / ".bench_out" /
                          f"result-{workload}-seed{seed}-trace{trace}.json").read_text())
        fp = (res["host"]["cpu"], res["host"]["cores"])
        host = host or fp
        flag = "" if fp == host else "  OTHER HOST, not compared"
        print(f"seed {seed}: wall {walls[-1]:.1f} s correct={last['correct']} "
              f"attempted={last['attempted']} failed={last['failed']} "
              f"load={res['host']['load_start']:.2f}{flag}", flush=True)
        if flag:
            continue
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            print(f"{k:32s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:7.4f}  bound {bounds.get(k)}")
        else:
            print(f"{k:32s} median {med:12.4f}")
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")


if __name__ == "__main__":
    main(sys.argv[1:])
