#!/usr/bin/env python3
"""Summarize benchmark runs: per workload and metric, the median, quartiles
and spread (interquartile range as a share of the median), and, with two
sets, whether their medians agree within BENCHMARK.json's bounds.

Usage:
    python3 perfbench/summarize.py SET_DIR [SET_DIR2] [--json OUT]

A set directory holds one file per run named <workload>_<seed>.out whose
last line is the benchmark's result JSON (as perfbench/run.py prints it).
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_set(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.out"))):
        w = os.path.basename(p).rsplit("_", 1)[0]
        with open(p) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        if not lines or not lines[-1].startswith("{"):
            runs.setdefault(w, []).append(None)
            continue
        runs.setdefault(w, []).append(json.loads(lines[-1]))
    return runs


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan")}


def summarize(runs, spec):
    out = {}
    for w, rs in sorted(runs.items()):
        ok = [r for r in rs if r]
        row = {"runs": len(rs), "results": len(ok),
               "all_correct": all(r["correct"] for r in ok) and len(ok) == len(rs),
               "metrics": {}}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok if m["name"] in r["metrics"]]
            if len(vals) >= 2:
                row["metrics"][m["name"]] = stats(vals)
        out[w] = row
    return out


def main(argv):
    js = None
    if "--json" in argv:
        i = argv.index("--json")
        js = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    sets = [summarize(load_set(d), spec) for d in argv]
    bad = 0
    for k, s in enumerate(sets):
        print("set %d: %s" % (k + 1, argv[k]))
        for w, row in s.items():
            print("  %s: %d runs, %d results, all correct: %s"
                  % (w, row["runs"], row["results"], row["all_correct"]))
            for name, st in row["metrics"].items():
                b = bounds[name]["bound"]
                flag = ""
                if st["spread"] > b / 3:
                    flag = "  spread > bound/3"
                    bad += 1
                print("    %-16s median %12.6f  q1 %12.6f  q3 %12.6f  spread %6.3f  bound %.3f%s"
                      % (name, st["median"], st["q1"], st["q3"], st["spread"], b, flag))
    if len(sets) == 2:
        print("set 2 against set 1 (positive = worse):")
        for w in sets[0]:
            for name, st in sets[0][w]["metrics"].items():
                other = sets[1].get(w, {}).get("metrics", {}).get(name)
                if not other:
                    continue
                sign = 1 if bounds[name]["better"] == "lower" else -1
                shift = sign * (other["median"] - st["median"]) / st["median"]
                b = bounds[name]["bound"]
                flag = "  > bound" if shift > b else ""
                bad += bool(flag)
                print("  %-16s %-16s %+7.3f  bound %.3f%s" % (w, name, shift, b, flag))
    if js:
        with open(js, "w") as f:
            json.dump({"sets": [os.path.basename(os.path.normpath(d)) for d in argv], "summary": sets}, f, indent=1, sort_keys=True)
            f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
