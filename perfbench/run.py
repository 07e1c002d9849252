#!/usr/bin/env python3
"""graft's benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source (perfbench/build.py), starts one JVM on local[nproc] that sets up
the workload, warms it up and issues units in a closed loop for the timed
window, then checks the outputs. Every run gets private index, postings,
sink and Spark scratch roots under the build directory, removed at exit.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"} with every end-to-end metric of BENCHMARK.json (--trace 0) or
every per-layer one (--trace 1). The line before it is the run's
provenance. The full record is kept under <build dir>/records/. A failed
correctness check prints the result with "correct": false and exits 1.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import platform
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170


def fail(msg: str, code: int = 1) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def sf_dir(root: str) -> str:
    """The scale-factor directory: $SPARK_GRAFT_SF_DIR, or the sf0.1 row of
    TESTDATA.md's table (the scale the repo benchmarks at)."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    try:
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", open(os.path.join(root, "TESTDATA.md")).read(),
                      re.M)
    except OSError:
        m = None
    if not m:
        fail("set SPARK_GRAFT_SF_DIR (no sf0.1 row in TESTDATA.md)")
    return m.group(1).rstrip("/")


def git_state(root: str):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None, None
    try:
        sha = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, check=True).stdout.strip()
        dirty = subprocess.run(["git", "-C", root, "status", "--porcelain"], capture_output=True,
                               text=True, check=True).stdout.strip() != ""
        return sha, dirty
    except (OSError, subprocess.CalledProcessError):
        return None, None


def run_jvm(cmd, env, log_path: str) -> int:
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def log_tail(path: str, n: int = 40) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def oracle_rows(con, sql: str, tables, cache_dir: str):
    """The DuckDB oracle's rows for `sql`. A query's result does not depend
    on the order of its input rows, so results are kept under a key of the
    SQL and of each input table's rows as a sorted multiset: every seed's
    permutation of the same rows shares one oracle run (~30 s for q115)."""
    import pandas as pd
    key = hashlib.sha256(sql.encode())
    for t in sorted(tables):
        rows = con.execute(f"SELECT list_sort(list(md5(CAST(r AS VARCHAR)))) FROM {t} r").fetchone()[0]
        key.update(f"{t}:{len(rows)}:".encode() + "".join(rows).encode())
    path = os.path.join(cache_dir, key.hexdigest() + ".parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_parquet(f"{path}.{os.getpid()}", index=False)
    os.replace(f"{path}.{os.getpid()}", path)
    return df


def check_curation(root: str, check_dir: str, cache_dir: str):
    """q115's rows against its DuckDB oracle on the same permuted input,
    with tools/compare.py's canonicalization and value rules."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import compare  # noqa: E402
    import duckdb
    import pandas as pd

    corpus = open(os.path.join(check_dir, "corpus_dir")).read()
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = duckdb.connect()
    tables = []
    for f in glob.glob(os.path.join(corpus, "*.parquet")):
        t = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}/**/*.parquet'")
        tables.append(t)
    out = []
    for name, sql in oracle.items():
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        got = compare.canon(pd.concat([pd.read_parquet(f) for f in files]))
        want = compare.canon(oracle_rows(con, sql, tables, cache_dir))
        if list(got.columns) != list(want.columns):
            out.append(f"{name}: columns {list(got.columns)} vs oracle {list(want.columns)}")
        elif any(not compare.dtypes_equal(got[c].dtype, want[c].dtype) for c in got.columns):
            out.append(f"{name}: dtypes differ from the oracle")
        elif len(got) != len(want):
            out.append(f"{name}: {len(got)} rows vs oracle {len(want)}")
        else:
            for c in got.columns:
                bad = [i for i in range(len(got))
                       if not compare.values_equal(got[c].iloc[i], want[c].iloc[i])]
                if bad:
                    i = bad[0]
                    out.append(f"{name}: column {c} differs in {len(bad)} rows, first "
                               f"graft={got[c].iloc[i]!r} oracle={want[c].iloc[i]!r}")
                    break
            else:
                print(f"perfbench: {name} equals its DuckDB oracle ({len(got)} rows)",
                      file=sys.stderr)
    return out


def main() -> None:
    # a terminated run still kills its JVM and removes its roots (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the checkout root (BENCHMARK.json not found)")
    spec = json.load(open(spec_path))
    workloads = [w["name"] for w in spec["workloads"]]
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; expected one of {workloads}", 2)

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    t0 = time.time()
    try:
        classpath = build.build(root, build_dir)
    except (RuntimeError, OSError) as e:
        fail(f"build failed: {e}")
    build_s = time.time() - t0

    run_id = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(build_dir, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(build_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{args.workload}-t{args.trace}.log")
    record_path = os.path.join(work, "record.json")
    records = os.path.join(build_dir, "records")
    os.makedirs(records, exist_ok=True)
    stamp = f"{run_id}-{int(time.time())}"
    spans_path = os.path.join(records, f"{stamp}-spans.jsonl")
    sf = sf_dir(root)

    env = dict(os.environ)
    env.pop("SPARK_GRAFT_STAGE_DIR", None)  # q115 must not resume from lake snapshots
    env["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    env["SPARK_GRAFT_POSTINGS_DIR"] = os.path.join(work, "postings")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -Xshare:on: a run that cannot map the build's class archive fails
    # instead of starting slower unnoticed
    cmd = (["java", "-Xshare:on", f"-XX:SharedArchiveFile={build.archive(build_dir)}"]
           + build.jvm_flags(os.path.join(work, "tmp"))
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", record_path, "--work", os.path.join(work, "w"),
              "--sf", sf, "--root", root, "--spans", spans_path])
    try:
        rc = run_jvm(cmd, env, log_path)
        if rc != 0:
            sys.stderr.write(log_tail(log_path))
            fail(f"benchmark JVM exited with {rc}; log: {log_path}")
        record = json.load(open(record_path))
        if args.workload == "curation":
            record["divergences"] += check_curation(
                root, os.path.join(work, "w", "curation-check"), os.path.join(build_dir, "oracle"))
            record["correct"] = not record["divergences"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    sha, dirty = git_state(root)
    record["provenance"] = {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "sf_dir": sf,
        "seed": args.seed,
        "git_sha": sha,
        "git_dirty": dirty,
        "source_sha256": build.source_hash(root),
        "spark": record["jvm"]["spark"],
        "scala": record["jvm"]["scala"],
        "java": record["jvm"]["java"],
        "heap_max_mb": record["jvm"]["heap_max_mb"],
        "local_cores": record["jvm"]["cores"],
        "host": platform.node(),
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                            if k.startswith("SPARK_GRAFT_")},
        "build_s": build_s,
    }
    if args.trace:
        record["spans_file"] = spans_path
    with open(os.path.join(records, f"{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for d in record["divergences"]:
        print(f"perfbench: divergence (seed {args.seed}): {d}", file=sys.stderr)
    for fl in record["failures"]:
        print(f"perfbench: unit {fl['unit']} failed: {fl['class']}: {fl['message']}",
              file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = record["per_layer"] if args.trace else record["metrics"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None and args.trace and m["name"] not in source:
            v = 0.0  # a layer this workload does not enter did no work
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} has no value on {args.workload}; record kept in {records}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"provenance": record["provenance"]}))
    print(json.dumps({"correct": bool(record["correct"]), "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    sys.exit(0 if record["correct"] else 1)


if __name__ == "__main__":
    main()
