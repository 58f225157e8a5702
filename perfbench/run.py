#!/usr/bin/env python3
"""Benchmark of the annotation pipeline and the iterative catalog family.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: annotate_cold, annotate_deepen (see README.md); a traced
annotate_cold run also makes one pass over the eight iterative catalog rows.
Builds the harness on first use (perfbench/build.py), generates the inputs
from the seed, runs one JVM with a local[4] Spark session, checks every
output against computations made here, and prints one JSON object as the
last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits 0 only when every operation completed and every
check passed.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# A fixed heap (initial = maximum), touched in full at start, keeps the
# process's resident size from following the collector's sizing decisions
# from run to run.
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 170

# Input sizes (documents, vectors); see README.md for why they are small.
COLD_DOCS = 300
DEEPEN_DOCS = 300
DEEPEN_NEW_SHARE = 0.10
CATALOG_DOCS = 300
CATALOG_VECS = 200
# Timed operations a run makes at least, however long they take; at
# --seconds 10 this count, not the clock, ends the run. Operations still
# speed up from one to the next as the JIT compiles, so a run slowed by the
# machine must not report the median of fewer, earlier operations.
MIN_OPS = 4
# A traced run reports per-layer figures, which carry no bound, and also
# makes the probes and the catalog pass: three operations keep it well
# inside the run's time limit.
MIN_OPS_TRACED = 3
# Untimed operations before the first timed one: the first runs 3-4x slower
# than the steady state, and the JIT keeps compiling well into the second
# (annotate_deepen's archive-seeding run in its set-up does not replace one).
WARMUP_OPS = 2

WORKLOADS = ("annotate_cold", "annotate_deepen")

CATALOG_ROWS = ("q_pagerank", "q_dedup_clusters_star", "q_dedup_clusters",
                "q_textrank", "q_pagerank_convergence", "q_semdedup",
                "q_dedup_keep_central", "q_cc_convergence")
MODULES = ("sources", "plans", "queries", "operators", "model", "functions", "other")


def _unit(name):
    # the measure is the second part of a spark.* name, the last otherwise
    m = name.split(".")[1] if name.startswith("spark.") else name.rsplit(".", 1)[-1]
    if m.endswith("_us"):
        return "us"
    if m == "s" or m.endswith("_s"):
        return "s"
    if m.endswith("_mb"):
        return "MB"
    return "ratio" if m == "parallelism" else "count"


def layer_metrics():
    """Every per-layer metric name with its unit. A traced run reports all
    of them; a layer the workload does not touch reads 0."""
    names = [f"spark.{m}" for m in (
        "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
        "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "output_mb",
        "parallelism")]
    names += [f"spark.{k}.{m}" for k in ("jobs", "task_run_s") for m in MODULES]
    names += [f"sources.{m}" for m in (
        "ingest_s", "lookup_s", "write_s", "readback_s", "upsert_s",
        "rotate_s", "store_mb")]
    names += ["plans.sample_s", "plans.annotate_s",
              "model.identifier_us", "model.roundtrip_s"]
    names += [f"operators.{v}_us" for v in ("tokens", "pos", "chunk", "charniak", "srl")]
    names += [f"queries.{q}.{m}" for q in CATALOG_ROWS for m in ("s", "construct_s", "jobs")]
    names += ["trace.run_s", "trace.output_listener_mb", "trace.output_disk_mb"]
    return {n: _unit(n) for n in names}


def stage_inputs(workload, seed, work, trace):
    """Write the workload's inputs under `work/input`; return what the
    checks need to know about them."""
    inp = os.path.join(work, "input")
    os.makedirs(inp)
    if workload == "annotate_cold":
        texts = gen.annotation_texts(seed, COLD_DOCS)
        gen.write_text_dir(texts, os.path.join(inp, "raw"))
        expected = {"texts": texts}
        if trace:  # the traced run also makes one catalog pass
            expected["data"] = os.path.join(inp, "data")
            gen.write_catalog(seed, expected["data"], CATALOG_DOCS, CATALOG_VECS)
        return expected
    orig = gen.annotation_texts(seed, DEEPEN_DOCS)
    new = gen.annotation_texts(seed, int(DEEPEN_DOCS * DEEPEN_NEW_SHARE),
                               dup_share=0.0, salt="new")
    gen.write_text_table(orig, os.path.join(inp, "orig.parquet"))
    gen.write_text_table(orig + new, os.path.join(inp, "all.parquet"))
    return {"orig": orig, "new": new, "texts": orig + new}


def run_jvm(workload, work, seconds, trace, min_ops=MIN_OPS, warmup_ops=WARMUP_OPS):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}"]
           + build.JAVA_OPENS
           + ["-cp", build.classpath(), "perfbench.Harness",
              "--workload", workload, "--work", work, "--seconds", str(seconds),
              "--trace", "1" if trace else "0",
              "--min-ops", str(min_ops), "--warmup-ops", str(warmup_ops)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # never leave the JVM behind, also on a signal
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(res_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"harness JVM failed (rc={rc}):\n{tail}")
    with open(res_path) as f:
        return json.load(f)


def end_to_end(result, setup_s):
    ops = result["ops"]
    med = lambda k: statistics.median(o[k] for o in ops)  # noqa: E731
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "run_s": {"value": med("wall_s"), "unit": "s"},
        "cpu_s": {"value": med("cpu_s"), "unit": "s"},
        "disk_write_mb": {"value": med("write_bytes") / 1e6, "unit": "MB"},
        "peak_rss_mb": {"value": result["peak_rss_mb"], "unit": "MB"},
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    try:
        build_s = build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] cannot build the harness: {e}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        expected = stage_inputs(a.workload, a.seed, work, a.trace == 1)
        result = run_jvm(a.workload, work, a.seconds, a.trace == 1,
                         min_ops=MIN_OPS_TRACED if a.trace else MIN_OPS)
        problems = checks.check(a.workload, work, expected, result)
        if a.trace:
            layers = result["layers"]
            problems += checks.trace_bytes_agree(layers)
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                       for k, u in layer_metrics().items()}
        else:
            metrics = end_to_end(result, result["first_op_epoch"] - T_START - build_s)
        for e in result["errors"]:
            print(f"[perfbench] OPERATION FAILED: {e}", file=sys.stderr)
        for p in problems:
            print(f"[perfbench] CHECK FAILED: {p}", file=sys.stderr)
        print(json.dumps({"correct": not problems, "attempted": result["attempted"],
                          "failed": result["failed"], "metrics": metrics}))
        return 0 if not problems and not result["errors"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run still stops its JVM (run_jvm's finally clause)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
