#!/usr/bin/env python3
"""Benchmark for the OSM wrangling engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload osm_etl --seed 1 --seconds 8 --trace 0

Builds the engine and the harness from source (sbt, once per source
version), runs one workload in one JVM, checks every op's output without
timing it, and prints the run record and then, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
See perfbench/NOTES.md for the workloads, the metrics and what each layer
metric should move.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
DATA = os.path.join(HERE, "data", "sf0.01")
HEAP = "3g"
TIME_LIMIT_S = 170

WORKLOADS = ("osm_etl", "osm_audit", "sf_quick")

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "kdocs_per_s": "kdocs/s", "peak_rss_mb": "MB",
}

AUDIT_OPS = ("uniqueUsers", "countDocsBy", "bikeServices", "auditRefTypes",
             "docTypeMismatches", "refDocs", "mostRefd", "updateStates",
             "updateStatesReport", "fixMismatchedRefs", "tagKeyProfile",
             "tagProfileSummary", "violations", "elementProfile")
QUICK_OPS = ("a2_group_count", "g1_rollup", "g11_cms_freq", "j2_inner_join",
             "t1_topk", "w2_rank_per_group", "f1_phone_clean", "d2_minhash_lsh")

LAYERS = [
    ("chunk.s", "s"), ("chunk.fragments", "count"), ("xml.parse_s", "s"),
    ("xml.tasks", "count"), ("shape.s", "s"), ("sink.encode_s", "s"),
    ("sink.write_s", "s"), ("sink.bytes_out", "bytes"), ("sink.files", "count"),
    ("tables.jobs", "count"), ("tables.job_s", "s"), ("construct.s", "s"),
    ("construct.jobs", "count"), ("construct.share", "ratio"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("memo.build_s", "s"), ("memo.jobs", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.sched_wait_s", "s"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.input_bytes", "bytes"), ("exec.output_bytes", "bytes"),
    ("exec.util", "ratio"), ("exec.task_failures", "count"),
    ("trace.pass_s", "s")]

OPS = {"osm_etl": ("etl",), "osm_audit": AUDIT_OPS, "sf_quick": QUICK_OPS}
# The workloads BENCHMARK.json names share one per-layer list; osm_audit
# runs on demand and reports its own ops.
LISTED = ("osm_etl", "sf_quick")


def per_layer(workload):
    ops = [n for w in LISTED for n in OPS[w]] if workload in LISTED else OPS[workload]
    return dict(LAYERS + [(f"op.{n}_s", "s") for n in ops])


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compiles engine + harness with sbt unless this source version is built."""
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return stamp
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                 f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile", "writeClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                timeout=max(60, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, work, nproc, deadline):
    with open(os.path.join(TARGET, "classpath.txt")) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", DATA]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {TIME_LIMIT_S} s; see {log}")
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited {rc}; see {log}")
    with open(os.path.join(work, "record.json")) as f:
        return json.load(f)


def quantile(xs, q):
    """Linear-interpolated quantile of the samples (q in [0, 1])."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    if not os.path.isdir(DATA):
        fail(f"bundled tables not found at {DATA}")
    t_build = time.time()
    stamp = build(t_build + 800)
    # a first build in a fresh checkout does not eat into the run's limit
    deadline = started + (time.time() - t_build) + TIME_LIMIT_S

    import checks  # after the build check, so a broken checkout fails fast

    work = os.path.join(TARGET, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    nproc = len(os.sched_getaffinity(0))
    rec = run_jvm(args, work, nproc, deadline)

    bad_ops, bad_samples, problems = checks.check(args.workload, rec, work, DATA)

    passes = rec["passes"]
    samples = [(i, op) for i, p in enumerate(passes) for op in p["ops"]]
    failed = sum(1 for i, op in samples
                 if op["error"] or op["name"] in bad_ops or (i, op["name"]) in bad_samples)
    errors = sorted({f"{op['name']}: {op['error']}" for _, op in samples if op["error"]})
    pass_s = statistics.median(p["wall_s"] for p in passes)
    op_s = [op["construct_s"] + op["exec_s"] for _, op in samples]

    if args.trace:
        layers = rec["layers"] or {}
        values = {k: layers.get(k) or 0.0 for k in per_layer(args.workload)}
        units = per_layer(args.workload)
    else:
        values = {
            "setup_s": rec["setup_s"],
            "pass_s": pass_s,
            "op_p50_s": quantile(op_s, 0.5),
            "op_p90_s": quantile(op_s, 0.9),
            "kdocs_per_s": rec["docs_per_pass"] / pass_s / 1000.0,
            "peak_rss_mb": rec["peak_rss_mb"],
        }
        units = END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "spark_graft_cpus": rec["spark_graft_cpus"],
        "heap_max_mb": rec["heap_max_mb"], "git_commit": git_commit(),
        "source_stamp": stamp,
        "samples": {"setup_s": 1, "pass_s": len(passes), "kdocs_per_s": len(passes),
                    "op_p50_s": len(op_s), "op_p90_s": len(op_s), "peak_rss_mb": 1},
        "ops_per_pass": rec["ops_per_pass"], "session_s": rec["session_s"],
        "inputs_s": rec["inputs_s"], "warmup_s": rec["warmup_s"],
        "errors": errors, "check_problems": problems[:20],
        "wall_s": round(time.time() - started, 3),
    }
    with open(os.path.join(work, "run_record.json"), "w") as f:
        json.dump(dict(record, metrics=metrics), f, indent=1)
    print("# run record: " + json.dumps(record))
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": len(samples),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
