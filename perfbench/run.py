#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness
(perfbench/build.py), writes the workload's inputs from the seed
(perfbench/gen.py), runs the harness JVM on them, checks the harness's
dumped results against the DuckDB oracle SQL, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. Everything it writes goes under .bench_build/perfbench.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170.0
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# Per-layer metrics of layers a workload does not run: the layer did no
# work there, so they read 0.
NOT_RUN = {
    "batch_reference": ("streaming.", "sources.stream_", "bench.generator_"),
    "stream_events": ("operators.",),
}


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def oracle_check(work: str):
    """Hash-check each dumped result against its DuckDB oracle twin.
    Returns (attempted, failures)."""
    import duckdb
    import pandas as pd
    path = os.path.join(work, "oracle.json")
    if not os.path.exists(path):
        return 0, []
    # the canonical form and hash of the repository's own oracle check
    sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
    from check import canon, dtypes_of, h
    entries = json.load(open(path))
    failures = []
    for name, e in entries.items():
        files = glob.glob(os.path.join(work, "outputs", name, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None
        if got is None:
            failures.append(f"{name}: no output")
            continue
        if "sql" not in e:  # no oracle twin: the query must at least answer
            if len(got) == 0:
                failures.append(f"{name}: empty result")
            continue
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        p = os.path.join(e["tables"], "events.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{p}')")
        exp = con.execute(e["sql"]).df()
        con.close()
        g, x = canon(got), canon(exp)
        if list(g.columns) != list(x.columns):
            failures.append(f"{name}: columns {list(g.columns)} != oracle {list(x.columns)}")
        elif dtypes_of(g) != dtypes_of(x):
            failures.append(f"{name}: dtypes differ from the oracle")
        elif len(g) != len(x):
            failures.append(f"{name}: {len(g)} rows != oracle {len(x)}")
        elif h(g) != h(x):
            failures.append(f"{name}: values differ from the oracle")
    return len(entries), failures


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    root = os.getcwd()
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    out = os.path.join(root, ".bench_build", "perfbench")
    classes = build.build(root, out)

    data = os.path.join(out, "data", args.workload)
    work = os.path.join(out, "work", args.workload)
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = gen.make(args.workload, args.seed, data, args.seconds)
    t_gen = time.monotonic()

    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(build.spark_jars(root), '*')}", "perfbench.Harness",
            args.workload, data, work, str(args.seconds), str(args.trace), str(cores())]
    log = os.path.join(work, "harness.log")
    left = DEADLINE_S - (time.monotonic() - t_start)
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, cwd=root, stdout=fh, stderr=subprocess.STDOUT, timeout=left)
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"perfbench: harness exceeded the deadline; log in {log}\n")
            return 3
    if r.returncode != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(log) as fh:
            sys.stderr.write("".join(l for l in fh.readlines()[-60:] if "INFO" not in l))
        sys.stderr.write(f"perfbench: harness failed ({r.returncode}); log in {log}\n")
        return 3

    t_run = time.monotonic()
    res = json.load(open(os.path.join(work, "result.json")))
    n_oracle, oracle_failures = oracle_check(work)
    sys.stderr.write(f"perfbench: build+inputs {t_gen - t_start:.1f} s, harness {t_run - t_gen:.1f} s, "
                     f"oracle {time.monotonic() - t_run:.1f} s\n")
    attempted = res["attempted"] + n_oracle
    failures = res["failures"] + oracle_failures
    failed = res["failed"] + len(oracle_failures)

    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in res["metrics"]:
            v = res["metrics"][name]
            metrics[name] = {"value": v["value"], "unit": v["unit"]}
        elif args.trace and name.startswith(NOT_RUN[args.workload]):
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
        else:
            sys.stderr.write(f"perfbench: harness did not report {name}\n")
            return 3
        if metrics[name]["unit"] != m["unit"]:
            sys.stderr.write(f"perfbench: {name} reported in {metrics[name]['unit']}, not {m['unit']}\n")
            return 3

    for f in failures:
        print(f"FAILED {f}")
    samples = res.get("samples", {})
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"inputs={json.dumps(inputs)} notes={json.dumps(res.get('notes', {}))}")
    for name, v in metrics.items():
        n = f"  (n={samples[name]})" if name in samples else ""
        print(f"  {name:48s} {v['value']:.6g} {v['unit']}{n}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
