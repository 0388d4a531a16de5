#!/usr/bin/env python3
"""Run the benchmark several times with different seeds and report, per
metric, the median and the spread: the distance between the first and
third quartiles (`statistics.quantiles(values, n=4)`) as a share of the
median, next to a third of the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workload extract_merge ...] [--first-seed 100]

Run from the repository root. Raw results are appended to
`<build dir>/steady.jsonl`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all)")
    args = ap.parse_args()
    names = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "steady.jsonl")
    ok = True
    for name in names:
        values = {}
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = [bench["command"][0], os.path.join(ROOT, bench["command"][1])] + \
                bench["command"][2:] + ["--workload", name, "--seed", str(seed),
                                        "--seconds", str(bench["run_seconds"]),
                                        "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print("%s seed %d: exit %d\n%s" % (name, seed, out.returncode,
                                                   out.stderr[-2000:]))
                ok = False
                continue
            res = json.loads(lines[-1])
            with open(log, "a") as fh:
                fh.write(json.dumps({"workload": name, "seed": seed, **res}) + "\n")
            if not res["correct"]:
                ok = False
                print("%s seed %d: INCORRECT" % (name, seed))
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print("%s seed %d: %s" % (name, seed, " ".join(
                "%s=%.4g" % (k, m["value"]) for k, m in res["metrics"].items())),
                flush=True)
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            spread = (q[2] - q[0]) / med
            limit = bounds.get(k, 0) / 3
            flag = "" if spread < limit else "  <-- above bound/3"
            print("%-16s %-12s median %-12.5g spread %.4f (bound/3 %.4f)%s"
                  % (name, k, med, spread, limit, flag), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
