"""Benchmark runner: builds the program, runs one workload, checks its
outputs and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload wire_drain|query_mix \
      --seed N --seconds S --trace 0|1

--trace 0 measures the end-to-end metrics of BENCHMARK.json with
tracing off; --trace 1 runs the traced ledger and prints the per-layer
metrics instead. The last stdout line is
  {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}
Everything the run writes stays under $CARGO_TARGET_DIR (default
.bench_build) in the current directory.
"""
import argparse
import decimal
import json
import math
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
import datagen  # noqa: E402

TABLES = ["customer", "documents", "embeddings"]
JVM_TIMEOUT_S = 160


def spec():
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        return json.load(fh)


def canon(v):
    """Render a value the way the oracle comparison hashes it: decimals
    through float, floats by repr, booleans as 0/1."""
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def oracle_mismatches(data_dir, dumps, oracle_file):
    """Compare each dumped Spark result with DuckDB running the query's
    oracle SQL over the same tables. Returns {query: reason}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{dumps}/{name}/*.parquet')").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:  # an unreadable result or oracle error is a mismatch
            bad[name] = f"error: {e}"
            continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            bad[name] = f"columns {gc} vs oracle {wc}"
            continue
        g = sorted(tuple(canon(v) for v in r) for r in got[gc].itertuples(index=False, name=None))
        w = sorted(tuple(canon(v) for v in r) for r in want[wc].itertuples(index=False, name=None))
        if g != w:
            bad[name] = f"{len(g)} rows vs oracle {len(w)}, first difference " + \
                str(next(((a, b) for a, b in zip(g, w) if a != b), "in row count"))
        elif not g:
            bad[name] = "empty result"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cfg = spec()
    if a.workload not in [w["name"] for w in cfg["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")
    classes = build.build()
    target = os.path.dirname(build.target_dir())
    work = os.path.join(target, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    data_dir = None
    if a.workload == "query_mix":
        data_dir = datagen.generate(a.seed, os.path.join(target, "data",
                                                         f"{datagen.version()}-seed-{a.seed}"))
        args += ["--data", data_dir]
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        # own process group, so a timeout also stops the load process the
        # JVM started
        p = subprocess.Popen(build.java_cmd(classes, "perfbench.Main", args,
                                            tmpdir=os.path.join(work, "tmp")),
                             stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
        lines = [l for l in stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(stdout[-4000:])
            raise SystemExit(f"benchmark JVM failed with code {p.returncode}")
        out = json.loads(lines[-1])
        attempted, failed = out["attempted"], out["failed"]
        checks = out["checks"]
        if a.workload == "query_mix":
            bad = oracle_mismatches(data_dir, checks["dumps"], checks["oracle_sql"])
            for name, reason in bad.items():
                sys.stderr.write(f"[perfbench] oracle mismatch {name}: {reason}\n")
                failed += checks["passes"].get(name, 1)
        if checks.get("failures"):
            sys.stderr.write(f"[perfbench] failures: {checks['failures']}\n")
    finally:
        if a.trace and os.path.isdir(os.path.join(work, "trace")):
            kept = os.path.join(target, "traces", os.path.basename(work))
            shutil.rmtree(kept, ignore_errors=True)
            shutil.copytree(os.path.join(work, "trace"), kept)
            sys.stderr.write(f"[perfbench] spans written to {kept}\n")
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        wanted, values = cfg["per_layer"], out["layers"]
        idle = [m["name"] for m in wanted if m["name"] not in values]
        if idle:
            sys.stderr.write(f"[perfbench] layers idle on {a.workload} (reported as 0): "
                             f"{' '.join(idle)}\n")
    else:
        wanted, values = cfg["end_to_end"], out["e2e"]
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            raise SystemExit(f"benchmark JVM did not report {missing}")
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
