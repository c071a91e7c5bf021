#!/usr/bin/env python3
"""graft benchmark: one named workload, closed loop, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. Builds graft and the harness from
source (perfbench/build.py), generates the seeded inputs, runs the workload
in a single JVM (Spark local[CORES], fixed heap), checks the outputs
against DuckDB or the generator's ground truth, and prints one JSON object
as the last line of standard output: the end-to-end metrics with
`--trace 0`, the per-layer metrics (medians over the timed passes) with
`--trace 1`. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen_syllabus  # noqa: E402
import gen_tables  # noqa: E402

CORES = 4
HEAP = "2g"

# The `queries` workload: named queries over the sf0.01 tables.
QUERIES = [
    # Short: time mostly fixed per-query cost (schema inference per table
    # read, Catalyst phases, the per-job floor). Relational, Parsing and
    # TextQueries; some end in a global sort, some do not.
    "pricing_summary", "semi_join", "cube_revenue", "monthly_growth",
    "lead_lag_delta", "filename_meta_parse", "props_json_extract",
    "token_count", "lang_id_heuristic",
    # Iterated, pinned and prefix-scan: construction-time jobs, per-round
    # jobs, GraftCaches pins, shuffles.
    "graph_pagerank", "dedup_components_converged", "token_coverage",
]

WORKLOADS = {
    "syllabus_etl": {"docs": 450, "warm_passes": 2},
    "queries": {"sf": 0.01, "queries": QUERIES, "warm_passes": 1},
}


def jvm_cmd(cp, work, heap):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # C1 only (-XX:TieredStopAtLevel=1): with C2, compiler threads burned
    # 20-30 CPU-s per pass for many passes on a 4-vCPU host, competing
    # with the executor threads and moving CPU/op by ~20 % run to run.
    # C1 settles within the warm-up passes.
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={work}/tmp"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Harness"]


def run_jvm(cp, work, params, log_name):
    """Runs the harness once; returns its result dict."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, f"{log_name}.json")
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    params = dict(params, work=work, result=result, cores=CORES)
    with open(os.path.join(work, f"{log_name}.log"), "w") as log:
        launch = time.time()
        args = [f"{k}={v}" for k, v in params.items()] + [f"launch={launch!r}"]
        proc = subprocess.Popen(jvm_cmd(cp, work, HEAP) + args, stdout=log,
                                stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=150)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, f"{log_name}.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(result) as f:
        return json.load(f)


def prepare_inputs(workload, cfg, seed, work):
    inp = os.path.join(work, "input")
    if workload == "syllabus_etl":
        truth = gen_syllabus.generate(cfg["docs"], seed, inp)
        return {"corpus": os.path.join(inp, "corpus"), "docs": truth["docs"],
                "find_id": truth["find_id"], "find_period": truth["find_period"]}, truth
    gen_tables.generate(cfg["sf"], seed, inp)
    return {"tables": inp, "queries": ",".join(cfg["queries"])}, None


def count_failures(workload, cfg, res, work, inputs, truth):
    """Failed ops in the timed window: every execution of a step that threw
    or whose checked output is wrong."""
    if workload == "syllabus_etl":
        bad_docs, faults = check.syllabus_failures(
            os.path.join(work, "out"), os.path.join(work, "check.json"), truth)
        for f in faults + [f"{k}: {v}" for k, v in res["errors"].items()]:
            sys.stderr.write(f"perfbench: {f}\n")
        if faults or res["errors"]:
            return res["ops"]
        for d in sorted(bad_docs)[:5]:
            sys.stderr.write(f"perfbench: wrong output for document {d}\n")
        return len(bad_docs) * res["passes"]
    bad = check.oracle_failures(os.path.join(work, "results"), inputs["tables"], cfg["queries"])
    for name, why in res["errors"].items():
        bad.setdefault(name, why)
    for name, why in sorted(bad.items()):
        sys.stderr.write(f"perfbench: {name}: {why}\n")
    return len(bad) * res["passes"]


def _terminate(signum, _frame):
    # SystemExit unwinds through run_jvm, whose `finally` stops the JVM.
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]

    cp = build.ensure()
    work = os.path.join(build.build_dir(), "perfbench", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs, truth = prepare_inputs(a.workload, cfg, a.seed, work)

    params = dict(inputs, workload=a.workload, seconds=a.seconds,
                  warm_passes=cfg["warm_passes"], trace=a.trace)
    res = run_jvm(cp, work, params, "harness")

    failed = count_failures(a.workload, cfg, res, work, inputs, truth)
    ops = res["ops"]
    lat = {k: statistics.median(v) for k, v in res["latency"].items()}
    geomean = math.exp(sum(math.log(max(v, 1e-9)) for v in lat.values()) / len(lat))
    e2e = {
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "throughput_per_s": {"value": ops / res["window_s"], "unit": "1/s"},
        "latency_geomean_s": {"value": geomean, "unit": "s"},
        "cpu_s_per_op": {"value": res["cpu_s"] / ops, "unit": "s"},
        "heap_retained_mb": {"value": res["heap_mb"], "unit": "MB"},
    }
    # Diagnostics (steady.py reads them; with --trace 1 they carry the
    # traced run's end-to-end figures, for the tracing overhead). The
    # result is the last line.
    print(json.dumps({"diag": {"steal_s": res["steal_s"], "passes": res["passes"],
                               "warm_s": res["warm_s"], "window_s": res["window_s"],
                               "e2e": {k: v["value"] for k, v in e2e.items()}}}))
    out = e2e
    if a.trace:
        layers = sorted({k for p in res["trace"] for k in p})
        metrics = {k: statistics.median(p.get(k, 0.0) for p in res["trace"]) for k in layers}
        with open(os.path.join(work, "trace_passes.json"), "w") as f:
            json.dump(res["trace"], f)
        out = {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}
    # Every op not counted in `failed` was checked and matched.
    print(json.dumps({"correct": True, "attempted": ops, "failed": failed,
                      "metrics": out}))


def _unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    main()
