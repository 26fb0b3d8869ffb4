#!/usr/bin/env python3
"""Repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <etl_load|report_queries|corpus_curation>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), runs the workload in
one Spark JVM on local[nproc] (perfbench/scala/perfbench/Main.scala),
checks its outputs against DuckDB (perfbench/check.py) and prints every
metric by name with its unit. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics from an
untraced run with --trace 0, per-layer metrics from a traced run with
--trace 1. Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402

WORKLOADS = ("etl_load", "report_queries", "corpus_curation")
JVM_DEADLINE_S = 165
DRIVER_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def end_to_end(res):
    """End-to-end metrics from the untraced passes of one run."""
    passes = res["passes"]
    ops = [o for p in passes for o in p]
    totals = [o["build_s"] + o["sink_s"] for o in ops]
    run_s = statistics.median(sum(o["build_s"] + o["sink_s"] for o in p) for p in passes)
    if res["workload"] == "etl_load":
        load_s = statistics.median(sum(o["build_s"] + o["sink_s"] for o in p if o["kind"] == "load")
                                   for p in passes)
        report_s = statistics.median(sum(o["build_s"] + o["sink_s"] for o in p if o["kind"] == "report")
                                     for p in passes)
    else:
        load_s = run_s
        report_s = statistics.median(sum(o["sink_s"] for o in p) for p in passes)
    rows = res["input_rows"]
    setup_s = res["session_s"] + statistics.median(res["gen_s"]) + res["warmup_s"]
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "load_rows_per_s": (rows / load_s, "rows/s"),
        "report_s": (report_s, "s"),
        "query_p50_s": (statistics.median(totals), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }, totals


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jar = build.build()

    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cp = os.pathsep.join([jar, build.spark_jars()])
    # Class-data sharing: the first run of a workload after a build dumps
    # the classes it loaded, later runs map them instead of loading ~15k
    # classes again (about 5 s less set-up per run; the timed passes are
    # unaffected).
    cds = jar.replace("perfbench-", "cds-").replace(".jar", f"-{a.workload}.jsa")
    cds_flag = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
                else f"-XX:ArchiveClassesAtExit={cds}.tmp")
    # fixed heap + ParallelGC: peak RSS then tracks what the run touches,
    # not how far G1 chose to grow the heap
    cmd = (["java", f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", cds_flag, "-Dspark.callstack.depth=64",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # Spark prefers these over spark.local.dir; they may point outside
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.stderr.write(f"\nbenchmark JVM failed ({rc})\n")
        shutil.rmtree(work, ignore_errors=True)
        return 1
    if os.path.exists(cds + ".tmp"):
        os.replace(cds + ".tmp", cds)
    with open(out) as f:
        res = json.load(f)

    t0 = time.time()
    res["input_rows"], res["input_bytes"] = check.inputs(res, work)
    problems = check.run(res, work)
    check_s = time.time() - t0
    for p in problems:
        print(f"WRONG {p}")
    for f in res["failed_ops"]:
        print(f"FAILED pass {f['pass']} {f['name']}: {f['error']}")

    e2e, totals = end_to_end(res)
    if a.trace:
        layer = res["layers"]["metrics"]
        if res["workload"] == "etl_load":
            layer["etl.Sources.csv_scans_per_row"] = res["layers"]["csv_records_read"] / res["input_rows"]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: (layer[k], units[k]) for k in units}
        traces = os.path.join(build.BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
    else:
        metrics = e2e

    record = {k: res[k] for k in ("workload", "seed", "trace", "cores", "master", "driver_heap_mb",
                                  "spark_version", "input_rows", "input_bytes", "session_s",
                                  "gen_s", "warmup_s", "warmup_passes")}
    record.update(commit=commit(), engine_sources=build.engine_digest(), nproc=os.cpu_count(),
                  timed_passes=len(res["passes"]), op_samples=len(totals),
                  op_p90_s=statistics.quantiles(totals, n=10, method="inclusive")[8],
                  check_s=round(check_s, 3),
                  seconds=a.seconds)
    by_op = {}
    for p in res["passes"]:
        for o in p:
            by_op.setdefault(o["name"], []).append(o["build_s"] + o["sink_s"])
    record["op_median_s"] = {k: round(statistics.median(v), 4) for k, v in sorted(by_op.items())}
    if a.trace:
        record.update({k: v for k, v in res["layers"].items() if k != "metrics"})
        record["untraced"] = {k: v[0] for k, v in e2e.items()}
    print("record " + json.dumps(record, sort_keys=True))
    for k, (v, u) in metrics.items():
        print(f"{k:40s} {v:>18.6f} {u}")
    shutil.rmtree(work, ignore_errors=True)
    attempted = res["attempted_ops"]
    failed = len(res["failed_ops"]) + len(problems)
    print(json.dumps({"correct": not problems and not res["failed_ops"], "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
