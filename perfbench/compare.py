#!/usr/bin/env python3
"""Compare two sets of run records (the JSON files run.py keeps under
<build dir>/records/), workload by workload.

    python3 perfbench/compare.py <records A> <records B>

Each argument is a records directory or a single record file. Two sets
are compared only when their provenance matches (CPU count, local cores,
SPARK_GRAFT_* settings, scale-factor directory, Spark, Scala and JVM
versions, heap); the seed, git sha and source hash are what may differ.
Each metric is reported as the median and quartiles of its runs, never
as a minimum, with B's median as a share of A's and the metric's bound
from BENCHMARK.json. Exits 2 when the provenance differs.
"""
import glob
import json
import os
import statistics
import sys

MATCH = ("nproc", "SPARK_GRAFT_CPUS", "local_cores", "sf_dir", "spark", "scala", "java",
         "heap_max_mb", "spark_graft_env")


def load(path: str):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    return [json.load(open(f)) for f in files]


def summary(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(a_path: str, b_path: str) -> int:
    spec = json.load(open("BENCHMARK.json")) if os.path.exists("BENCHMARK.json") else {}
    bounds = {m["name"]: m.get("bound") for m in spec.get("end_to_end", [])}
    a, b = load(a_path), load(b_path)
    keys = {(r["workload"], r["trace"]) for r in a} & {(r["workload"], r["trace"]) for r in b}
    for wl, trace in sorted(keys):
        ra = [r for r in a if (r["workload"], r["trace"]) == (wl, trace)]
        rb = [r for r in b if (r["workload"], r["trace"]) == (wl, trace)]
        prov = {json.dumps({k: r["provenance"].get(k) for k in MATCH}, sort_keys=True)
                for r in ra + rb}
        if len(prov) != 1:
            print(f"{wl}: provenance differs, not comparable:\n  " + "\n  ".join(sorted(prov)))
            return 2
        section = "per_layer" if trace else "metrics"
        print(f"== {wl} ({'traced' if trace else 'untraced'}; A {len(ra)} runs, B {len(rb)} runs)")
        names = sorted({k for r in ra + rb for k in r[section]})
        for n in names:
            xa = [r[section][n] for r in ra if r[section].get(n) is not None]
            xb = [r[section][n] for r in rb if r[section].get(n) is not None]
            if not xa or not xb:
                continue
            qa, qb = summary(xa), summary(xb)
            share = qb[1] / qa[1] if qa[1] else float("nan")
            bound = f"  bound {bounds[n]}" if bounds.get(n) is not None else ""
            print(f"  {n}: A {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"B {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  B/A {share:.3f}{bound}")
        fa = sum(r["failed"] for r in ra), sum(r["attempted"] for r in ra)
        fb = sum(r["failed"] for r in rb), sum(r["attempted"] for r in rb)
        print(f"  failed/attempted: A {fa[0]}/{fa[1]}  B {fb[0]}/{fb[1]}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
