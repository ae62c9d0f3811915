#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine if needed
(build.py), generates the workload's inputs from the seed (gridgen.py),
runs one JVM that times the ops (Harness.scala), checks the outputs
(checks.py), and prints one JSON object as the last line of stdout:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1). With --trace 1 it first
prints one JSON record per traced op. See perfbench/README.md.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark's directory as committed

import build  # noqa: E402
import checks  # noqa: E402
import gridgen  # noqa: E402

WORKLOADS = ("dissolve_smooth", "query_mix")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")

# The query mix, name-sorted: a graph query whose build (eager truncation
# jobs) dominates, and a similarity query whose tasks dominate.
QUERIES = sorted([
    "q_semdedup",
    "q_triangles",
])

# Rounds per run: a fixed count, so `wall_s` (all timed ops together) and
# `attempted` mean the same thing in every run. The count is the run length
# over the nominal cost of one round on a 4-core machine, rounded up. A round
# is one op (dissolve_smooth) or one pass over QUERIES (query_mix); a traced
# round also traces the op and times each layer on its own.
NOMINAL_ROUND_S = {("dissolve_smooth", 0): 3.0, ("query_mix", 0): 9.0,
                   ("dissolve_smooth", 1): 20.0, ("query_mix", 1): 18.0}

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}

PIPELINE_LAYERS = {
    "sources.parse_s": "s", "sources.parse_cells_per_s": "1/s",
    "sources.scan_passes": "count", "operators.threshold_s": "s",
    "operators.threshold_rows": "count", "functions.union_s": "s",
    "functions.union_cells_per_s": "1/s", "operators.label_s": "s",
    "operators.regions": "count", "operators.sink_s": "s",
    "trace.unaccounted_s": "s",
}
QUERY_LAYERS = {
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.plan_s": "s",
    "queries.exchanges": "count", "queries.exec_s": "s",
    "queries.cache_entries_left": "count",
    **{f"queries.{q}_s": "s" for q in QUERIES},
}
SPARK_LAYERS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.task_run_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s",
    "spark.error_log_lines": "count", "spark.warn_log_lines": "count",
    "trace.overhead_s": "s",
}
PER_LAYER = {**PIPELINE_LAYERS, **QUERY_LAYERS, **SPARK_LAYERS}


def cpu_times():
    """(steal, total) jiffies of the machine, from /proc/stat; (0, 0) where
    there is none. Steal is CPU time the hypervisor gave to other guests."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(args, work, rounds):
    cmd = (["java"] + build.JVM_OPTS
           + [f"-Djava.io.tmpdir={work}/tmp", "-cp", build.classpath(ROOT),
              "perfbench.Harness",
              "--workload", args.workload, "--input", f"{work}/input",
              "--work", work, "--rounds", str(rounds), "--trace", str(args.trace),
              "--cpus", str(len(os.sched_getaffinity(0))), "--sf", SF_DIR,
              "--queries", ",".join(QUERIES)])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = open(f"{work}/jvm.log", "w")
    try:
        r = subprocess.run(cmd, stdout=log, stderr=log, timeout=160)
    except subprocess.TimeoutExpired:
        sys.exit("the JVM did not finish in 160 s")
    finally:
        log.close()
        with open(f"{work}/jvm.log") as f:
            sys.stderr.writelines(line for line in f if line.startswith("perfbench:"))
    if r.returncode != 0:
        sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
        sys.exit(f"the JVM exited with {r.returncode}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def consistent(ops, key):
    """(rows, checksum) must repeat across every op of the same query."""
    seen = {}
    for o in ops:
        seen.setdefault(o.get(key), set()).add((o["rows"], o["checksum"]))
    return all(len(v) == 1 for v in seen.values())


def trace_metrics(workload, ops, traces):
    """Medians over traced ops (pipelines) or over passes of the mix, with
    each pass summing its queries; 0 for layers the workload never runs.
    `ops` and `traces` hold the ops that did not fail."""
    out = {name: 0.0 for name in PER_LAYER}
    if workload == "query_mix":
        plain = {(o["query"], o["round"]): o["sec"] for o in ops}
        passes = {}
        for t in traces:
            p = passes.setdefault(t["round"], {})
            if (t["query"], t["round"]) in plain:
                t = {**t, "trace.overhead_s": t["traced_op_s"] - plain[t["query"], t["round"]]}
            for k, v in t.items():
                if k in PER_LAYER:
                    p[k] = p.get(k, 0.0) + v
        for k in QUERY_LAYERS.keys() | SPARK_LAYERS.keys():
            vals = [p[k] for p in passes.values() if k in p]
            if vals:
                out[k] = statistics.median(vals)
        for q in QUERIES:
            vals = [o["sec"] for o in ops if o["query"] == q]
            if vals:
                out[f"queries.{q}_s"] = statistics.median(vals)
    else:
        for k in PIPELINE_LAYERS.keys() | SPARK_LAYERS.keys():
            vals = [t[k] for t in traces if t.get(k) is not None]
            if vals:
                out[k] = statistics.median(vals)
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in sorted(out.items())}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    compile_s = build.build(ROOT)
    # set-up runs from process start; a compile is a one-off, not set-up
    t_setup = T_START + compile_s
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "query_mix":
            if not os.path.isdir(SF_DIR):
                sys.exit(f"missing query data {SF_DIR}")
            grids = None
        else:
            grids = gridgen.generate(args.seed, f"{work}/input")
        rounds = math.ceil(args.seconds / NOMINAL_ROUND_S[args.workload, args.trace])
        steal0, total0 = cpu_times()
        res = run_jvm(args, work, rounds)
        steal1, total1 = cpu_times()
        # a progress note, not a metric: a slow run on a shared host often
        # coincides with stolen CPU time
        if total1 > total0:
            print(f"perfbench: host steal {100 * (steal1 - steal0) / (total1 - total0):.1f} % "
                  "of CPU time during the JVM run", file=sys.stderr)

        # a failed op is counted in `failed`; the checks and the metrics
        # cover the ops that did not fail
        attempts = res["ops"] + res["traces"]
        for o in attempts:
            if "error" in o:
                print(f"OP FAILED: {o}", file=sys.stderr)
        ops = [o for o in res["ops"] if "error" not in o]
        traces = [t for t in res["traces"] if "error" not in t]
        if not ops or (args.trace and not traces):
            sys.exit("every op failed")
        if args.workload == "query_mix":
            errs, out_rows = checks.check_queries(SF_DIR, res["outputs"])
            errs += [f"{o['query']}: {o['rows']} rows timed, {out_rows.get(o['query'])} written"
                     for o in ops if o["rows"] != out_rows.get(o["query"])]
            ok = consistent(ops, "query")
        else:
            errs = checks.check_dissolve(grids, res["checks"])
            ok = consistent(ops, None)
        if not ok:
            errs.append("(rows, checksum) differ between ops")
        for e in errs:
            print(f"CHECK FAILED: {e}", file=sys.stderr)

        if args.trace:
            for t in res["traces"]:
                print(json.dumps({"workload": args.workload, **t}, sort_keys=True))
            metrics = trace_metrics(args.workload, ops, traces)
        else:
            values = {
                "setup_s": res["first_op_epoch_ms"] / 1000.0 - t_setup,
                "wall_s": sum(o["sec"] for o in ops),
                "op_p50_s": statistics.median(o["sec"] for o in ops),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        print(json.dumps({"correct": not errs, "attempted": len(attempts),
                          "failed": len(attempts) - len(ops) - len(traces),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
