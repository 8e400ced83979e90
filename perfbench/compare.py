#!/usr/bin/env python3
"""Summarise and compare benchmark records (the .bench_out/*.json files that
run.py leaves behind).

    python3 perfbench/compare.py summary RECORDS... > summary.json
    python3 perfbench/compare.py diff BASE NEW

RECORDS are record files or directories of them. `summary` groups them by
workload and prints, per metric, the run count, median and quartiles, and the
host fingerprint they share. `diff` takes two summaries (or record
directories) and reports each end-to-end metric's change against the bound in
BENCHMARK.json. Both refuse records whose host fingerprints differ: numbers
from different hosts are not comparable.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_records(paths):
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += sorted(os.path.join(p, f) for f in os.listdir(p)
                            if f.endswith(".json") and not f.endswith(".spans.json"))
        else:
            files.append(p)
    return [json.load(open(f)) for f in files]


def one_fingerprint(records):
    prints = {json.dumps(r["fingerprint"], sort_keys=True) for r in records}
    if len(prints) != 1:
        sys.exit("refusing: records come from %d different hosts:\n  %s"
                 % (len(prints), "\n  ".join(sorted(prints))))
    return json.loads(prints.pop())


def summary(records):
    fp = one_fingerprint(records)
    out = {"fingerprint": fp, "workloads": {}}
    for r in records:
        kind = "per_layer" if r["trace"] else "end_to_end"
        w = out["workloads"].setdefault(r["workload"], {})
        for name, m in r["result"]["metrics"].items():
            w.setdefault(kind, {}).setdefault(name, []).append(m["value"])
        w.setdefault("runs", 0)
        w["runs"] += 1
        w.setdefault("failed_ops", 0)
        w["failed_ops"] += r["result"]["failed"]
    for w in out["workloads"].values():
        for kind in ("end_to_end", "per_layer"):
            for name, vals in w.get(kind, {}).items():
                q = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
                w[kind][name] = {"n": len(vals), "median": statistics.median(vals),
                                 "q1": q[0], "q3": q[2],
                                 "spread": (q[2] - q[0]) / statistics.median(vals)
                                 if statistics.median(vals) else 0.0}
    return out


def as_summary(path):
    if os.path.isfile(path):
        doc = json.load(open(path))
        if "workloads" in doc:
            return doc
    return summary(load_records([path]))


def diff(base, new):
    if base["fingerprint"] != new["fingerprint"]:
        sys.exit("refusing: different hosts\n  base %s\n  new  %s"
                 % (base["fingerprint"], new["fingerprint"]))
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    print("%-14s %-10s %12s %12s %8s %6s  %s" % (
        "workload", "metric", "base", "new", "change", "bound", "verdict"))
    for m in spec["end_to_end"]:
        for w in sorted(set(base["workloads"]) & set(new["workloads"])):
            b = base["workloads"][w].get("end_to_end", {}).get(m["name"])
            n = new["workloads"][w].get("end_to_end", {}).get(m["name"])
            if not b or not n:
                continue
            worse = (n["median"] - b["median"]) / b["median"]
            if m["better"] == "higher":
                worse = -worse
            verdict = "ok"
            if worse > m["bound"]:
                verdict = "REGRESSED"
            elif b["spread"] > m["bound"] or n["spread"] > m["bound"]:
                verdict = "unresolved (spread above bound)"
            print("%-14s %-10s %12.5g %12.5g %+7.1f%% %6.2f  %s" % (
                w, m["name"], b["median"], n["median"], 100 * worse, m["bound"],
                verdict))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "summary":
        print(json.dumps(summary(load_records(sys.argv[2:])), indent=1))
    elif len(sys.argv) == 4 and sys.argv[1] == "diff":
        diff(as_summary(sys.argv[2]), as_summary(sys.argv[3]))
    else:
        sys.exit(__doc__)
