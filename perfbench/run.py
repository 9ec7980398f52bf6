"""One benchmark run: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program if needed (perfbench/build.py), generates the run's
inputs from the seed, runs the workload in one JVM (perfbench.Main) with its
own scratch directory, checks every output (the txn table inside the JVM,
query results here against their DuckDB oracle SQL), writes the full record
to .bench_results/ and prints one JSON result line last.

Workloads and metrics are described in perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import build
import datagen

WORKLOADS = ("txn_loop", "store_ingest", "analytics_read")
RUN_LIMIT_S = 170
E2E = {"setup_s": "s", "latency_ms": "ms", "tail_latency_ms": "ms", "throughput_ops": "1/s"}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def layer_unit(name):
    tail = name.rsplit(".", 1)[-1]
    if tail.endswith("_ms"):
        return "ms"
    if tail.endswith("_bytes") or tail == "bytes_written":
        return "bytes"
    return "count"


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def oracle_check(data_dir, checks):
    """Compares each dumped result with its oracle SQL in DuckDB, by the rules
    of scripts/check_oracle.py: columns sorted by name, equal dtypes and row
    counts, rows sorted by repr and compared exactly (NaN equal to NaN).
    Returns the list of failure messages."""
    if not checks:
        return []
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    fails = []
    for c in checks:
        name = c["name"]
        try:
            exp = con.sql(c["sql"]).df()
            got = con.sql(f"SELECT * FROM '{c['dir']}/*.parquet'").df()
        except Exception as e:  # missing dump or oracle error
            fails.append(f"{name}: {str(e)[:300]}")
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(exp.columns) != list(got.columns):
            fails.append(f"{name}: columns {list(got.columns)} != {list(exp.columns)}")
        elif list(exp.dtypes) != list(got.dtypes):
            fails.append(f"{name}: dtypes differ")
        elif len(exp) != len(got):
            fails.append(f"{name}: {len(got)} rows, oracle {len(exp)}")
        else:
            e = sorted((tuple(_norm(v) for v in r) for r in exp.itertuples(index=False)), key=repr)
            g = sorted((tuple(_norm(v) for v in r) for r in got.itertuples(index=False)), key=repr)
            if e != g:
                fails.append(f"{name}: rows differ from the oracle")
    return fails


def host_probe_ms():
    """Best of three wall times of a fixed single-threaded CPU loop: recorded
    before and after the run, so a slower host shows apart from a slower
    program."""
    best = math.inf
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        best = min(best, (time.perf_counter() - t) * 1000.0)
    return best


def run_jvm(args, scratch, out_file, deadline):
    cmd = build.java("perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--data", f"{scratch}/data",
        "--out", out_file], extra=[f"-Djava.io.tmpdir={scratch}/tmp"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{scratch}/local")
    log_path = f"{scratch}/jvm.log"
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(tail + f"\nperfbench: JVM run failed ({rc})\n")
        return False
    return True


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=datagen.SCALE,
                    help="input scale of the query workloads (for scale checks)")
    args = ap.parse_args()

    build_s = build.ensure()
    probe = [host_probe_ms()]
    t0 = time.time()  # set-up clock: starts once the program is built
    deadline = t_start + build_s + RUN_LIMIT_S
    root = build.ROOT
    scratch = os.path.join(root, ".bench_run", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    results_dir = os.path.join(root, ".bench_results")
    os.makedirs(results_dir, exist_ok=True)
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "local", "data", "results"):
        os.makedirs(os.path.join(scratch, d))
    try:
        if args.workload != "txn_loop":
            datagen.write(f"{scratch}/data", args.seed, args.scale)
        out_file = f"{scratch}/jvm_result.json"
        if not run_jvm(args, scratch, out_file, deadline):
            return 1
        with open(out_file) as fh:
            rec = json.load(fh)
        oracle_fails = oracle_check(f"{scratch}/data", rec["oracle_checks"])
        probe.append(host_probe_ms())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    attempted = rec["attempted"] + len(rec["oracle_checks"])
    failed = rec["failed"] + len(oracle_fails)
    e2e = dict(rec["e2e"], setup_s=(rec["setup_end_ms"] - t0 * 1000) / 1000.0)
    named = dict(rec["named"], setup_s=e2e["setup_s"], failed_share=failed / attempted)
    rec["marks"] = dict(setup_clock=int(t0 * 1000), **rec["marks"])
    rec.update(build_s=build_s, scale=args.scale, host_probe_ms=probe, e2e=e2e, named=named,
               oracle_failures=oracle_fails, attempted_total=attempted, failed_total=failed)
    rec.pop("oracle_checks")
    base = f"{args.workload}-seed{args.seed}"
    if args.trace:
        untraced = os.path.join(results_dir, base + "-trace0.json")
        if os.path.isfile(untraced):
            with open(untraced) as fh:
                ref = json.load(fh)["e2e"]
            rec["tracing_overhead"] = {k: {"traced": e2e[k], "untraced": ref[k],
                                           "diff": e2e[k] - ref[k]} for k in e2e if k in ref}
    with open(os.path.join(results_dir, f"{base}-trace{args.trace}.json"), "w") as fh:
        json.dump(rec, fh, indent=1, default=str)

    if args.trace:
        layers = rec.get("layers", {})
        print("layers: " + ", ".join(f"{k}={layers[k]:.6g} {layer_unit(k)}" for k in sorted(layers)))
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(rec["per_layer"].items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    print(f"{args.workload}: " + ", ".join(
        f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}"
        for k, v in named.items() if not isinstance(v, dict)))
    for msg in rec.get("errors", [])[:10] + oracle_fails[:10]:
        print(f"failure: {msg}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
