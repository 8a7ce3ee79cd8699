#!/usr/bin/env python3
"""Summarise benchmark records, or compare two sets of them.

    python3 perfbench/compare.py RECORDS_DIR [OTHER_RECORDS_DIR]

A record is the JSON file run.py leaves in perfbench/.work/results/ for each
run (copy that directory away to keep a set). For each workload and metric
this prints the number of runs, the median, the quartiles and the spread:
the distance between the first and third quartile as a share of the median.
Given a second set, it also prints the change of the median and marks an
end-to-end metric whose median got worse by more than its bound in
BENCHMARK.json.

Records taken on different core counts are not comparable: the script
refuses them (exit 2).
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    recs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if "host" in r and "result" in r:
            recs.append(r)
    if not recs:
        sys.exit(f"no records in {d}")
    return recs


def table(recs):
    """(workload, trace) -> metric -> list of values."""
    out = {}
    for r in recs:
        key = (r["host"]["workload"], r["host"]["trace"])
        for m, v in r["result"]["metrics"].items():
            out.setdefault(key, {}).setdefault(m, []).append(v["value"])
    return out


def stats(vals):
    med = statistics.median(vals)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = med
    spread = (q3 - q1) / med if med else float("nan")
    return med, q1, q3, spread


def main():
    dirs = sys.argv[1:]
    if not 1 <= len(dirs) <= 2:
        sys.exit(__doc__)
    sets = [load(d) for d in dirs]
    cores = {r["host"]["nproc"] for s in sets for r in s}
    if len(cores) != 1:
        print(f"refused: records come from different core counts {sorted(cores)}",
              file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    tables = [table(s) for s in sets]
    bad = [r for s in sets for r in s if not r["result"]["correct"]]
    print(f"nproc={cores.pop()}  runs={[len(s) for s in sets]}  "
          f"incorrect={len(bad)}")
    for key in sorted(tables[0]):
        print(f"\n{key[0]} trace={key[1]}")
        for m in sorted(tables[0][key]):
            vals = tables[0][key][m]
            med, q1, q3, sp = stats(vals)
            line = (f"  {m:48s} n={len(vals):2d} median={med:<14.6g} "
                    f"q1={q1:<12.6g} q3={q3:<12.6g} spread={sp:.4f}")
            if m in e2e and not key[1]:
                line += f" bound={e2e[m]['bound']}"
            if len(tables) == 2 and m in tables[1].get(key, {}):
                med2 = stats(tables[1][key][m])[0]
                change = med2 / med - 1 if med else float("nan")
                line += f" | median2={med2:<12.6g} change={change:+.4f}"
                if m in e2e and not key[1]:
                    worse = change if e2e[m]["better"] == "lower" else -change
                    if worse > e2e[m]["bound"]:
                        line += "  WORSE THAN BOUND"
            print(line)


if __name__ == "__main__":
    main()
