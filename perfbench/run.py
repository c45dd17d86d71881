#!/usr/bin/env python3
"""graft benchmark: one closed-loop client driving the engine in one JVM.

    python3 perfbench/run.py --workload analytic_read --seed 1 --seconds 10 --trace 0

Workloads: analytic_read, lake_dml, lake_stream (see perfbench/README.md).
The run builds the engine from source if needed, makes its inputs from the
seed under a per-run temp root in the checkout, runs the workload, checks
the outputs against DuckDB and prints, as its last stdout line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it is a report with every measured metric, the sample counts and
the run's environment. Full results (and the span file of a traced run)
are written under .bench_out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

CHECKOUT = os.path.dirname(HERE)
HEAP = "2g"
# Set-up repetitions; each builds its own state and warms up on it, and
# setup_s counts their median. A second lake set-up costs 13-20 s, which
# one run cannot afford.
SETUP_REPS = {"analytic_read": 2, "lake_dml": 1, "lake_stream": 1}
JVM_TIMEOUT_S = 165
# Untimed passes between set-up and window (analytic_read only).
WARM_PASSES = 3

# analytic_read: a lab job, two TPC-H-shaped queries, an LLM-tier vector
# query and the profiler. The full declared set (42 queries) takes about
# 55 s a pass on 4 cores even at sf0.02, past what one run may take, and the
# near-dup queries' all-pairs oracles take 60-230 s each in DuckDB.
ANALYTIC_QUERIES = ["q03_groupmax", "q68_tpch_pricing", "q74_tpch_custdist",
                    "q22_cosine_topk", "q114_profile"]

ANALYTIC_SF = 0.02      # tables at 1/5 of the sf0.1 fixture rows
DML_ROWS = 20_000       # rows seeded into each lake table
DML_ROUNDS = 40         # more rounds than any window runs
STREAM_FILES = 400      # arrival files (more than any window lands)
STREAM_FILE_ROWS = 250  # events per file

WORKLOADS = ("analytic_read", "lake_dml", "lake_stream")


def cpus():
    return len(os.sched_getaffinity(0))


def spark_cores():
    """Spark task slots: half the cores. The driver thread, the JIT compiler
    and GC threads get the other half, so a neighbour's load on the shared
    host does not stall a wave of tasks behind them; both workloads are
    driver-bound and ran at least as fast on local[2] as on local[4] (4 cores)."""
    return max(1, cpus() // 2)


def prepare(workload, seed, root):
    """Makes the inputs and the plan file; returns (inputs dir, plan path, context)."""
    inputs = os.path.join(root, "inputs")
    plan = os.path.join(root, "plan.txt")
    ctx = {}
    if workload == "analytic_read":
        gen.write_tables(seed, ANALYTIC_SF, inputs)
        passes = gen.query_passes(seed, ANALYTIC_QUERIES, 40)
        lines = [",".join(p) for p in passes]
    elif workload == "lake_dml":
        gen.write_tables(seed, DML_ROWS / 1_500_000, inputs, names={"orders"})
        log = gen.statement_log(seed, DML_ROWS, DML_ROUNDS)
        ctx["log"] = log
        lines = [gen.SEED_SQL.format(n=DML_ROWS), gen.MATVIEW_SQL] + [
            "\t".join([str(e["round"]), e["cls"], e["kind"], e["table"], e["sql"]]) for e in log]
    else:
        files = gen.stream_files(seed, STREAM_FILES * STREAM_FILE_ROWS, STREAM_FILES,
                                 os.path.join(root, "staging"))
        ctx["files"] = files
        lines = files
    with open(plan, "w") as f:
        f.write("\n".join(lines) + "\n")
    return inputs, plan, ctx


def run_jvm(jar, workload, inputs, plan, out, root, seconds, trace):
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.catalog.graft.warehouse": os.path.join(root, "lake"),
        "spark.sql.warehouse.dir": os.path.join(root, "spark-warehouse"),
        "spark.local.dir": os.path.join(root, "spark-local"),
        "derby.system.home": os.path.join(root, "derby"),
        "java.io.tmpdir": os.path.join(root, "tmp"),
    }
    os.makedirs(props["java.io.tmpdir"])
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             f"-XX:SharedArchiveFile={build.cds_archive(jar)}"]
    cmd = (build.jvm_cmd(jar, flags + [f"-D{k}={v}" for k, v in props.items()])
           + ["graftbench.Harness",
              "--workload", workload, "--inputs", inputs, "--plan", plan, "--out", out,
              "--root", root, "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--cpus", str(cpus()), "--cores", str(spark_cores()),
              "--reps", str(SETUP_REPS[workload]), "--warm", str(WARM_PASSES)])
    log_path = os.path.join(root, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"run: harness JVM failed ({rc})")


def jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t = [time.time()]
    jar = build.build()
    root = tempfile.mkdtemp(prefix=".bench_run-", dir=CHECKOUT)
    try:
        inputs, plan, ctx = prepare(a.workload, a.seed, root)
        t.append(time.time())
        out = os.path.join(root, "out")
        run_jvm(jar, a.workload, inputs, plan, out, root, a.seconds, a.trace == 1)
        t.append(time.time())
        with open(os.path.join(out, "meta.json")) as f:
            meta = json.load(f)
        ops = jsonl(os.path.join(out, "ops.jsonl"))
        traced_ops = jsonl(os.path.join(out, "traced_ops.jsonl"))

        fin = meta["finish"]
        if a.workload == "analytic_read":
            fails = checks.analytic(inputs, out, sorted(ANALYTIC_QUERIES), fin)
            tables = []
        elif a.workload == "lake_dml":
            fails = checks.lake_dml(inputs, out, ctx["log"], meta["rounds"], DML_ROWS)
            tables = [fin["cow"], fin["mor"]]
        else:
            fails = checks.lake_stream(out, ctx["files"][:fin["landed"]])
            tables = [fin["fact"], fin["state"]]
        # live snapshot bytes per live row over the workload's lake tables
        space = (sum(t["bytes"] for t in tables) / sum(t["rows"] for t in tables)) if tables else None

        t.append(time.time())
        window = traced_ops if a.trace else ops
        attempted, failed = stats.failures(window, fails)
        gated, extra, counts = stats.end_to_end(meta, ops, space)
        metrics, layers = gated, {}
        if a.trace:
            layers = stats.per_layer(meta, traced_ops, jsonl(os.path.join(out, "jobs.jsonl")),
                                     jsonl(os.path.join(out, "frames.jsonl")),
                                     jsonl(os.path.join(out, "progress.jsonl")),
                                     jsonl(os.path.join(out, "probes.jsonl")), ops)
            metrics = {k: layers[k] for k in stats.LAYER_METRICS}
        report = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "error_rate": stats.error_rate(attempted, failed) if attempted else None,
            "check_failures": fails,
            "op_errors": sorted({o["error"] for o in window if not o["ok"]})[:5],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**gated, **extra}.items()},
            "layers": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
            "samples": counts,
            "round_s": stats.round_walls(ops),
            "op_s": [[o["name"], (o["end"] - o["start"]) / 1000.0] for o in ops],
            "env": {"nproc": meta["cpus"], "spark_cores": meta["cores"],
                    "heap_max_mb": meta["heap_max_mb"],
                    "java": meta["java_version"], "spark": meta["spark_version"],
                    "host_sec_mt": meta["host_sec_mt"], "peak_rss_mb": meta["peak_rss_mb"],
                    "session_s": meta["session_ms"] / 1000.0,
                    "setup_rep_s": [x / 1000.0 for x in meta["setup_ms"]],
                    "warm_s": meta["warm_ms"] / 1000.0,
                    "window_gc_s": meta["window"]["gc_ms"] / 1000.0,
                    "inputs_s": t[1] - t[0], "jvm_s": t[2] - t[1],
                    "checks_s": t[3] - t[2]},
        }
        os.makedirs(os.path.join(CHECKOUT, ".bench_out"), exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        if a.trace:
            report["per_query"] = stats.per_query(traced_ops)
            span_path = os.path.join(CHECKOUT, ".bench_out", f"{tag}.spans.json")
            with open(span_path, "w") as f:
                json.dump(stats.spans(traced_ops, jsonl(os.path.join(out, "probes.jsonl"))), f)
            report["span_file"] = os.path.relpath(span_path, CHECKOUT)
        with open(os.path.join(CHECKOUT, ".bench_out", f"{tag}.json"), "w") as f:
            json.dump(report, f, indent=1)
        print(json.dumps({"report": report}))
        if any(v is None for v, _ in metrics.values()):
            sys.exit("run: a metric has no samples; run longer")
        print(json.dumps({
            "correct": not fails and failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
