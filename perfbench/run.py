#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the harness from source, generates
the workload's inputs from the seed, runs the closed-loop harness in one JVM,
checks the answers against DuckDB and prints one JSON line of metrics.

    python3 perfbench/run.py --workload {ingest_search,curate} \
        --seed N --seconds S --trace {0,1}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones (see
perfbench/README.md). Run from the repository root.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)

# Input sizes and per-iteration call counts of each workload.
SIZES = {
    "ingest_search": {"docs": 5000, "append_batch": 20, "appends": 4, "text_queries": 64,
                      "vectors": 500000, "dim": 64, "queries": 512,
                      "singles_per_append": 3, "batch_queries": 2},
    "curate": {"docs": 5000},
}
# Which calls the generic end-to-end metrics read, per workload.
PRIMARY = {"ingest_search": "single", "curate": "export"}
SECONDARY = {"ingest_search": "append", "curate": "pipeline"}
# The same metrics under the names a reader of this workload would use.
ALIASES = {
    "ingest_search": {"primary_p50_ms": "topk_p50_ms", "primary_max_ms": "topk_max_ms",
                      "secondary_p50_ms": "append_p50_ms", "throughput_per_s": "ingest_records_per_s"},
    "curate": {"primary_p50_ms": "export_p50_ms", "primary_max_ms": "export_max_ms",
               "secondary_p50_ms": "pipeline_p50_ms", "throughput_per_s": "curate_docs_per_s"},
}
JVM_TIMEOUT_S = 140


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal in whole GiB, clamped to 2..8, as the repository's
    test command sizes it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def end_to_end(workload, res):
    ops = res["ops"]
    prim, sec = ops.get(PRIMARY[workload], []), ops.get(SECONDARY[workload], [])
    if not prim or not sec or not res["throughput"] or not res["space_amp"]:
        raise RuntimeError("the run recorded no successful %s/%s calls" % (PRIMARY[workload], SECONDARY[workload]))
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "primary_p50_ms": (statistics.median(prim), "ms"),
        # a run makes 2-12 primary calls, too few for a percentile with
        # samples beyond it: the slowest call stands for the tail
        "primary_max_ms": (max(prim), "ms"),
        "secondary_p50_ms": (statistics.median(sec), "ms"),
        "throughput_per_s": (statistics.median(res["throughput"]), "1/s"),
        "space_amp": (statistics.median(res["space_amp"]), "ratio"),
    }
    notes = {"primary_n": len(prim), "secondary_n": len(sec),
             "throughput_n": len(res["throughput"])}
    return metrics, notes


def run(args):
    t_start = time.time()
    classes = build.build(ROOT)
    work = os.path.join(ROOT, ".perfbench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    proc = None
    try:
        inp = os.path.join(work, "input")
        t0 = time.time()
        inputs = gen.generate(args.workload, args.seed, inp, SIZES[args.workload])
        log("inputs (%.1f s): %s" % (time.time() - t0, json.dumps(inputs)))
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        out = os.path.join(work, "result.json")
        spans = os.path.join(build.build_dir(ROOT), "spans", "%s-seed%d.json" % (args.workload, args.seed))
        if args.trace:
            os.makedirs(os.path.dirname(spans), exist_ok=True)
        n = cpus()
        cmd = build.java_command(classes, heap(), os.path.join(work, "tmp")) + [
            "graftbench.PerfBench", args.workload, inp, work, out, str(args.seconds),
            str(args.trace), str(n), spans] + [
            "%s=%d" % kv for kv in SIZES[args.workload].items()]
        t0 = time.time()
        with open(os.path.join(work, "jvm.log"), "wb") as jvm_log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=jvm_log)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log"), "rb") as f:
                sys.stderr.write(f.read()[-4000:].decode("utf-8", "replace"))
            raise RuntimeError("harness JVM %s" % ("timed out" if rc is None else "exited with %s" % rc))
        proc = None
        jvm_s = time.time() - t0
        with open(out) as f:
            res = json.load(f)

        t0 = time.time()
        con = checks.connect(n)
        try:
            results = checks.CHECKS[args.workload](con, inp, res["answers"])
        finally:
            con.close()
        check_s = time.time() - t0
        bad = [r for r in results if not r[1]]
        for name, _, why in bad[:10]:
            log("CHECK FAILED %s: %s" % (name, why))
        for e in res["errors"][:10]:
            log("CALL FAILED %s" % e)
        attempted = res["attempted"] + len(results)
        failed = res["failed"] + len(bad)
        correct = bool(results) and not bad and res["failed"] == 0

        if args.trace:
            metrics = {l["name"]: (l["value"], l["unit"]) for l in res["layers"]}
            metrics["spark.session_s"] = (res["session_s"], "s")
            log("spans written to %s" % spans)
        else:
            metrics, notes = end_to_end(args.workload, res)
            alias = ALIASES[args.workload]
            log("%s: %s" % (args.workload, ", ".join(
                "%s=%.4g" % (alias.get(k, k), v[0]) for k, v in metrics.items())))
            log("max is the slowest of %d calls; %s" % (notes["primary_n"], json.dumps(notes)))
            log("call latencies (ms, in call order): %s" % json.dumps(
                {k: [round(x, 1) for x in v] for k, v in res["ops"].items()}))
        log("ops_failed_ratio=%.4g (%d of %d); checks %d/%d passed" % (
            failed / attempted, failed, attempted, len(results) - len(bad), len(results)))
        log("time: jvm boot %.1f s, session %.1f s, setup %.1f s, loop %.1f s, teardown %.1f s, "
            "jvm %.1f s (uptime %.1f s), checks %.1f s, total %.1f s" % (
                res["jvm_boot_s"], res["session_s"], res["setup_s"], res["loop_s"],
                res["teardown_s"], jvm_s, res["jvm_uptime_s"], check_s, time.time() - t_start))
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    except (build.BuildError, RuntimeError, OSError) as e:
        log("error: %s" % e)
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
