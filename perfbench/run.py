#!/usr/bin/env python3
"""graft benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload registry_queries --seed 1 --seconds 16 --trace 0

Builds graft and the benchmark program from source (perfbench/build.py),
generates the inputs (perfbench/gen_data.py), runs the workload in one JVM
at local[nproc], checks the outputs, and prints as its last line
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The line before it carries the run's detail (percentiles and sample
counts, checks, workload-specific layer metrics, tracing overhead).
Workload parameters are constants of the Scala program; the rationale for
each workload and metric is in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen_data  # noqa: E402

BUILD = build.BUILD
JVM_TIMEOUT_S = 150
JVM_XMX = "4g"
# the registry mix reads one fixed data set, whatever the --seed;
# ingest_loop is not listed in BENCHMARK.json and runs by hand
WORKLOADS = ("registry_queries", "trend_stream", "ingest_loop")
SF = 0.1
DATA_SEED = 42
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def dataset() -> str:
    with open(gen_data.__file__, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"sf{SF}-seed{DATA_SEED}-{digest}")
    if not os.path.exists(os.path.join(d, ".complete")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(DATA_SEED, SF, tmp)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def cpu_ticks() -> tuple:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat;
    (0, 0) where there is none."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (t[7] if len(t) > 7 else 0), sum(t)


def run_jvm(classes: str, args: dict, work: str) -> dict:
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{JVM_XMX}", f"-Xmx{JVM_XMX}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
           "-Dlog4j2.level=ERROR"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    cmd += ["--out", out, "--work", work]
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"workload JVM timed out after {JVM_TIMEOUT_S} s")
    finally:
        log.close()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"workload JVM failed with exit code {rc}")
    with open(out) as f:
        return json.load(f)


def oracle_check(results: str, data: str) -> dict:
    """Compares every mix query's Spark result with its DuckDB oracle:
    column names, dtypes, row count and sorted values.

    The table list and the row normalisation come from tools/check.py, the
    repository's oracle compare. Its loop is not reused because it runs
    every oracle query in DuckDB on each call (about 15 s per run at sf0.1);
    this one caches the DuckDB side by data set and SQL text."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check

    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(results, "errors.json")) as f:
        errors = json.load(f)
    cache = os.path.join(BUILD, "oracle_cache")
    os.makedirs(cache, exist_ok=True)
    con = None
    verdict = {}
    for name, sql in sorted(oracle.items()):
        if name in errors:
            verdict[name] = "query failed: " + errors[name][:200]
            continue
        key = hashlib.sha256((data + "\0" + sql).encode()).hexdigest()[:24]
        cached = os.path.join(cache, key + ".pkl")
        try:
            if os.path.exists(cached):
                want = pd.read_pickle(cached)
            else:
                if con is None:
                    con = duckdb.connect()
                    con.execute(f"SET threads TO {cores()}")
                    for t in check.TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"'{os.path.join(data, t + '.parquet')}'")
                want = con.sql(sql).df()
                want.to_pickle(cached)
            got = pd.concat([pd.read_parquet(p) for p in
                             sorted(glob.glob(os.path.join(results, name, "*.parquet")))],
                            ignore_index=True)
        except Exception as e:  # an oracle or read failure is a failed check
            verdict[name] = "compare failed: " + str(e)[:200]
            continue
        if sorted(got.columns) != sorted(want.columns):
            verdict[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        elif len(got) != len(want):
            verdict[name] = f"rows {len(got)} != {len(want)}"
        else:
            g, w = check.norm(got), check.norm(want)
            bad = [c for c in g.columns if str(g[c].dtype) != str(w[c].dtype)]
            if bad:
                verdict[name] = f"dtypes differ in {bad}"
            elif (g.astype(str) != w.astype(str)).any(axis=None):
                verdict[name] = "values differ"
            else:
                verdict[name] = "ok"
    for name in errors:
        verdict.setdefault(name, "query failed: " + errors[name][:200])
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {a.workload}")
    mix = a.workload == "registry_queries"

    classes = build.build()
    n = cores()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spans = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "cores": n, "spans": spans}
        if mix:
            # the tables come from a fixed data seed, so the DuckDB side of
            # the oracle check is computed once per checkout; --seed orders
            # the mix
            args["data"] = dataset()
            args["results"] = os.path.join(work, "results")
        t0, c0 = time.time(), cpu_ticks()
        res = run_jvm(classes, args, work)
        t1, c1 = time.time(), cpu_ticks()
        checks = dict(res["checks"])
        attempted, failed = res["attempted"], res["failed"]
        detail = dict(res["detail"])
        if mix:
            verdict = oracle_check(args["results"], args["data"])
            detail["oracle"] = {k: v for k, v in verdict.items() if v != "ok"}
            checks["oracle_matches"] = all(v == "ok" for v in verdict.values())
            attempted += len(verdict)
            failed += sum(v != "ok" for v in verdict.values())
        detail["jvm_s"] = round(t1 - t0, 3)
        # share of the machine's CPU time the hypervisor took while the
        # workload ran: slow runs on a shared host show up here
        detail["steal_share"] = round((c1[0] - c0[0]) / max(1, c1[1] - c0[1]), 4)
        detail["check_s"] = round(time.time() - t1, 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, layers = res["e2e"], res["layers"]
    # tracing overhead: this traced run's end-to-end figures against the
    # last untraced run of the same workload and seed in this checkout
    hist = os.path.join(BUILD, "history", f"{a.workload}-{a.seed}.json")
    if a.trace == 0:
        os.makedirs(os.path.dirname(hist), exist_ok=True)
        with open(hist, "w") as f:
            json.dump(e2e, f)
    else:
        detail["traced_e2e"] = e2e
        if os.path.exists(hist):
            with open(hist) as f:
                base = json.load(f)
            detail["trace_overhead_share"] = {
                k: e2e[k] / base[k] - 1 for k in e2e if base.get(k)}

    listed = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    source = e2e if a.trace == 0 else layers
    metrics = {}
    for m in listed:
        v = source.get(m["name"])
        if v is None:
            raise SystemExit(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    names = {m["name"] for m in listed}
    detail["layers"] = {k: v for k, v in layers.items() if k not in names} \
        if a.trace == 1 else {}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cores": n,
                      "checks": checks, "errors": res["errors"], "detail": detail}))
    print(json.dumps({"correct": all(checks.values()), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
