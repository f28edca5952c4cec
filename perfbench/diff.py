#!/usr/bin/env python3
"""Compare two sets of benchmark results metric by metric.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are each a result file written by perfbench/run.py or a
directory holding such files (searched recursively), for example two
copies of perfbench/results/. Runs are grouped by workload and by traced
or untraced; for every metric the medians of the two sides are compared.
An end-to-end metric whose NEW median is worse than the BASE median by
more than its bound in BENCHMARK.json is flagged REGRESSED; per-query
(analytics) and per-endpoint times that got more than 10% slower are
marked SLOWER. The exit code is 1 when a metric REGRESSED, else 0.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DETAIL_FLAG = 0.10


def load(path):
    files = []
    if os.path.isdir(path):
        for d, _, names in os.walk(path):
            files += [os.path.join(d, n) for n in names
                      if n.endswith(".json") and ".spans" not in n]
    else:
        files = [path]
    runs = {}
    for f in sorted(files):
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "metrics" in r:
            runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def medians(runs, section):
    vals = {}
    for r in runs:
        for name, m in r.get(section, {}).items():
            v = m["value"] if isinstance(m, dict) else m
            if isinstance(v, (int, float)):
                vals.setdefault(name, []).append(float(v))
    return {k: statistics.median(v) for k, v in vals.items()}


def spread(runs, name):
    vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
    if len(vals) < 4:
        return None
    q = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return (q[2] - q[0]) / med if med else None


def change(base, new):
    return (new - base) / base if base else (0.0 if new == base else float("inf"))


def main():
    if len(sys.argv) != 3:
        print(__doc__.strip())
        sys.exit(2)
    spec_path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    better = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, new = load(sys.argv[1]), load(sys.argv[2])
    flagged = 0
    for key in sorted(set(base) & set(new)):
        workload, trace = key
        b, n = base[key], new[key]
        print(f"== {workload} ({'traced' if trace else 'untraced'}): "
              f"{len(b)} base runs, {len(n)} new runs")
        for section in ("metrics", "named"):
            mb, mn = medians(b, section), medians(n, section)
            for name in sorted(set(mb) & set(mn)):
                c = change(mb[name], mn[name])
                spec_m = better.get(name)
                note = ""
                if section == "metrics" and spec_m and "bound" in spec_m:
                    worse = c > spec_m["bound"] if spec_m["better"] == "lower" \
                        else -c > spec_m["bound"]
                    s = spread(b, name)
                    note = f"bound {spec_m['bound']:.2f}" + \
                        (f", base spread {s:.3f}" if s is not None else "")
                    if worse:
                        note += "  REGRESSED"
                        flagged += 1
                print(f"  {name:40s} {mb[name]:14.6g} -> {mn[name]:14.6g} "
                      f"({c:+.1%})  {note}")
        # per-query / per-endpoint breakdowns
        for field, sub in (("queries", None), ("endpoints", "p50_ms")):
            qb = [r["detail"].get(field, {}) for r in b]
            qn = [r["detail"].get(field, {}) for r in n]
            names = set().union(*qb) & set().union(*qn) if qb and qn else set()
            for q in sorted(names):
                def med(ds):
                    vs = [d[q][sub] if sub else d[q] for d in ds if q in d]
                    vs = [v for v in vs if isinstance(v, (int, float)) and v > 0]
                    return statistics.median(vs) if vs else None
                vb, vn = med(qb), med(qn)
                if vb is None or vn is None:
                    continue
                c = change(vb, vn)
                mark = "  SLOWER" if c > DETAIL_FLAG else ""
                print(f"  {field}.{q:33s} {vb:14.6g} -> {vn:14.6g} ({c:+.1%}){mark}")
    for key in sorted(set(base) ^ set(new)):
        print(f"== {key[0]} trace={key[1]}: only in {'BASE' if key in base else 'NEW'}")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
