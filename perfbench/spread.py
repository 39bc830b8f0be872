#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's median and
spread (quartile distance over median) against the bounds in
BENCHMARK.json. Exits non-zero when any run fails or reports a wrong output.

    python3 perfbench/spread.py --workload all --seeds 1
    python3 perfbench/spread.py --workload qa_serve --seeds 1-10
    python3 perfbench/spread.py --workload all --seeds 1 --repeat 5 --save perfbench/baseline/set1
    python3 perfbench/spread.py --compare perfbench/baseline/set1 perfbench/baseline/set2

With --save, each run's result line is kept as a record that also names the
core count, seed, trace mode and run length it was taken with. --repeat runs
every seed that many times, each in its own process. --compare reads two
such directories and prints, per workload and end-to-end metric, each set's
median and their difference against the metric's bound; it exits non-zero
when a difference exceeds its bound.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="all", help="a workload name, or all")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--save", help="directory to keep one record per run")
    ap.add_argument("--compare", nargs=2, metavar="DIR")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    if args.compare:
        sys.exit(compare(args.compare, bounds))
    workloads = ([w["name"] for w in bench["workloads"]] if args.workload == "all"
                 else [args.workload])
    bad = sum(measure(w, args, bench, bounds) for w in workloads)
    sys.exit(1 if bad else 0)


def measure(workload, args, bench, bounds):
    """Run one workload over the seeds; return the number of bad runs."""
    values, bad = {}, 0
    for seed, rep in [(s, r) for s in seeds(args.seeds) for r in range(args.repeat)]:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if p.returncode != 0 or not result or not result["correct"]:
            bad += 1
            print(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
                  file=sys.stderr)
        if not result:
            continue
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        cores = re.search(r"cores=(\d+)", p.stderr)
        tail = re.search(r"op_tail_ms = .*", p.stderr)
        print(f"{workload} seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g} {v['unit']}" for k, v in result["metrics"].items()
            if k in bounds or args.trace == 0), flush=True)
        if args.save:
            os.makedirs(args.save, exist_ok=True)
            name = f"{workload}-seed{seed}-trace{args.trace}-run{rep}.json"
            with open(os.path.join(args.save, name), "w") as f:
                json.dump({"workload": workload, "seed": seed,
                           "trace": args.trace, "seconds": bench["run_seconds"],
                           "cores": int(cores.group(1)) if cores else None,
                           "op_tail": tail.group(0) if tail else None,
                           "result": result}, f, indent=1)
                f.write("\n")
    for k, xs in values.items():
        if len(xs) < 2 or (args.trace and k not in bounds):
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        verdict = "" if b is None else ("ok" if spread <= b else "OVER BOUND")
        third = "" if b is None or spread >= b / 3 else " (< bound/3)"
        print(f"{workload} {k}: median {statistics.median(xs):.5g} spread {spread:.3f} "
              f"bound {b} {verdict}{third}")
    return bad


def compare(dirs, bounds):
    """Median of each end-to-end metric in two directories of saved
    untraced records, and their difference as a share of the first set's
    median. Returns 1 when a difference exceeds its bound."""
    sets = []
    for d in dirs:
        vals = {}
        for f in sorted(os.listdir(d)):
            rec = json.load(open(os.path.join(d, f)))
            if rec["trace"] == 0:
                for k, v in rec["result"]["metrics"].items():
                    vals.setdefault((rec["workload"], k), []).append(v["value"])
        sets.append(vals)
    over = 0
    for key in sorted(sets[0]):
        a, b = (statistics.median(s.get(key, [float("nan")])) for s in sets)
        diff = abs(b - a) / a
        ok = diff <= bounds[key[1]]
        over += not ok
        print(f"{key[0]} {key[1]}: {a:.5g} (n={len(sets[0][key])}) vs {b:.5g} "
              f"(n={len(sets[1].get(key, []))}): {diff:.3f} of the first, "
              f"bound {bounds[key[1]]} {'ok' if ok else 'OVER BOUND'}")
    return 1 if over else 0


if __name__ == "__main__":
    main()
