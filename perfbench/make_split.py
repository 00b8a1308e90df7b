#!/usr/bin/env python3
"""Derive the tail workload and its expected outputs from two sizing
passes (every registry query once, at sf0.01 and at sf0.1, local[N]):

    java ... perfbench.Main --kind size --sf 0.01 --seed 1 --seconds 0 --trace 0 \
        --cores 4 --corpus-cache C --work W --out size_0.01.json
    java ... perfbench.Main --kind size --sf 0.1 --seed 1 --seconds 0 --trace 0 \
        --cores 4 --corpus-cache C --work W --out size_0.1.json
    python3 perfbench/make_split.py size_0.01.json size_0.1.json

Writes perfbench/workloads/split.tsv (the per-query time table and the
class each query got), perfbench/workloads/tail_sf0.01.txt and
perfbench/expected/sf0.01.json (row count and digest per query).

A query is data-bound when its sf0.1 time is at least DATA_RATIO times its
sf0.01 time; every other query is in the tail pool. The workload takes
every TAIL_EVERY-th query of the pool from TAIL_OFFSET, ordered by family
(the ops module that registers it) and then by name, so each family keeps
its share. Offset 5 is the first that puts a streaming query in the sample
within the time budget.
"""
import argparse
import json
import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_RATIO = 2.0
TAIL_EVERY, TAIL_OFFSET = 16, 5


def ops(path):
    with open(path) as fh:
        result = json.load(fh)
    (p,) = result["passes"]
    return {o["name"]: o for o in p["ops"]}


def families():
    """Query name -> the ops module (family) that registers it."""
    fam = {}
    ops_dir = os.path.join(os.path.dirname(HERE), "src", "main", "scala", "graft", "ops")
    for f in sorted(os.listdir(ops_dir)):
        with open(os.path.join(ops_dir, f)) as fh:
            for name in re.findall(r'Q(?:\.rowsOnly)?\(\s*"(q[0-9]+_[a-z0-9_]+)"', fh.read()):
                fam[name] = f[:-len(".scala")]
    return fam


def every(names, k, offset, fam):
    """Every k-th name with the names grouped by family, then by name: a
    systematic sample in which each family keeps its share."""
    ordered = sorted(names, key=lambda n: (fam[n], n))
    return sorted(n for i, n in enumerate(ordered) if i % k == offset)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("small")
    ap.add_argument("large")
    a = ap.parse_args()
    small, large = ops(a.small), ops(a.large)
    rows = []
    for name in sorted(small):
        s, l = small[name], large[name]
        ts, tl = s["end_s"] - s["start_s"], l["end_s"] - l["start_s"]
        ok = s["ok"] and l["ok"]
        cls = ("failed" if not ok else "data" if tl >= DATA_RATIO * ts else "tail")
        rows.append((name, ts, tl, tl / ts, cls))
    fam = families()
    tail = every([r[0] for r in rows if r[4] == "tail"], TAIL_EVERY, TAIL_OFFSET, fam)
    wl = os.path.join(HERE, "workloads")
    os.makedirs(wl, exist_ok=True)
    with open(os.path.join(wl, "split.tsv"), "w") as fh:
        fh.write("query\tfamily\tsf0.01_s\tsf0.1_s\tratio\tclass\tworkload\n")
        for name, ts, tl, ratio, cls in rows:
            chosen = "tail_sf0.01" if name in tail else ""
            fh.write(f"{name}\t{fam[name]}\t{ts:.3f}\t{tl:.3f}\t{ratio:.2f}\t{cls}\t{chosen}\n")
    with open(os.path.join(wl, "tail_sf0.01.txt"), "w") as fh:
        fh.write(f"# every {TAIL_EVERY}th query of its class in split.tsv, grouped by "
                 f"family then name, offset {TAIL_OFFSET}\n")
        fh.writelines(n + "\n" for n in tail)
    exp = os.path.join(HERE, "expected")
    os.makedirs(exp, exist_ok=True)
    with open(os.path.join(exp, "sf0.01.json"), "w") as fh:
        json.dump({n: {"rows": o["rows"], "digest": o["digest"]}
                   for n, o in sorted(small.items()) if o["ok"]}, fh, indent=0)
        fh.write("\n")
    classes = [r[4] for r in rows]
    print(f"{len(rows)} queries: {classes.count('data')} data, "
          f"{classes.count('tail')} tail, {classes.count('failed')} failed; "
          f"tail sample {len(tail)} ({sum(small[n]['end_s'] - small[n]['start_s'] for n in tail):.1f} s at sf0.01)")


if __name__ == "__main__":
    main()
