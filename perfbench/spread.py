#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each metric's spread.

    python3 perfbench/spread.py --workload stock_etl --seeds 1-10 [--seconds 20]

For every end-to-end metric it prints the median, the first and third
quartiles (as statistics.quantiles(values, n=4) gives them) and the
quartile distance as a share of the median, beside the bound in
BENCHMARK.json. Run results are appended to --log as JSON lines, each with
the share of CPU time the host took from this machine during the run
(`steal`, from /proc/stat where it exists): a shared host's load shows there.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--log")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    values, failed = {}, 0
    for seed in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        before = cpu_times()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
        after = cpu_times()
        steal = (after[0] - before[0]) / max(after[1] - before[1], 1) if before and after else None
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: run failed ({proc.returncode})", flush=True)
            failed += 1
            continue
        res = json.loads(lines[-1])
        if a.log:
            with open(a.log, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed, "steal": steal,
                                     **res}) + "\n")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={m['value']:.4g}" for k, m in
                                          res["metrics"].items()) +
              ("" if steal is None else f" steal={steal:.3f}"), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{a.workload} {k}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"spread {(q3 - q1) / med:.3f} (bound {bounds.get(k)}, n={len(vs)})")
    if failed:
        print(f"{failed} runs failed")


if __name__ == "__main__":
    main()
