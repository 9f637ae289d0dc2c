#!/usr/bin/env python3
"""A/A steadiness check: run one workload in two sets of N runs each, print
each end-to-end metric's median and inter-quartile spread per set, and say
whether the runs are steady and whether the two sets agree within the
bounds in BENCHMARK.json.

    python3 perfbench/aa.py --workload ingest_file --runs 10

Set k uses seeds first_seed + 1000*k + i, so no two runs share a seed, and
every run lasts BENCHMARK.json's run_seconds. A metric is steady when each
set's spread (IQR / median) is within a third of its bound; the two sets
agree when their medians differ by at most the bound, as a share of the
first set's median, in either direction. Exit status 0 means every run was
correct and every metric was steady and agreed.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def change(first, second):
    """second - first as a share of first."""
    return (second - first) / abs(first) if first else 0.0


def judge(spec, sets):
    """Medians, spreads and the steady / agree verdicts of one metric over
    two sets of values."""
    medians = [stats.median(s) for s in sets]
    spreads = [stats.spread(s) for s in sets]
    moved = change(*medians)
    return {"medians": medians, "spreads": spreads, "change": moved,
            "steady": all(x <= spec["bound"] / 3 for x in spreads),
            "agree": abs(moved) <= spec["bound"]}


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, cwd=os.path.dirname(HERE))
    lines = r.stdout.strip().splitlines()
    if not lines:
        sys.stderr.write(r.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    results = [[], []]
    ok = True
    for k, rs in enumerate(results):
        for i in range(args.runs):
            seed = args.first_seed + 1000 * k + i
            res = run_once(args.workload, seed, bench["run_seconds"])
            ok = ok and res is not None and res["correct"]
            print(json.dumps({"set": k, "seed": seed, "result": res}), flush=True)
            if res is not None:
                rs.append(res)
    print(f"{'metric':20} {'median 1':>12} {'median 2':>12} {'spread 1':>8} {'spread 2':>8} "
          f"{'change':>7} {'bound':>6}  verdict")
    for spec in bench["end_to_end"]:
        sets = [[r["metrics"][spec["name"]]["value"] for r in rs] for rs in results]
        if not all(sets):
            ok = False
            continue
        j = judge(spec, sets)
        verdict = ("steady" if j["steady"] else "NOT steady") + ", " + \
            ("agree" if j["agree"] else "DISAGREE")
        print(f"{spec['name']:20} {j['medians'][0]:12.4f} {j['medians'][1]:12.4f} "
              f"{j['spreads'][0]:8.3f} {j['spreads'][1]:8.3f} {j['change']:+7.3f} "
              f"{spec['bound']:6.2f}  {verdict}")
        ok = ok and j["steady"] and j["agree"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
