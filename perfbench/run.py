#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark
driver from source on first use (``sbt``, output under ``.bench_build``),
generates the workload's inputs from the seed (untimed), runs the
workload in one JVM for ``--seconds``, checks the outputs, and prints
as its last line one JSON object with ``correct``, ``attempted``,
``failed`` and the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``). Exits non-zero when an operation failed or an
output check failed. ``--corrupt 1`` damages one output before the
checks, to show that they catch it.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ["stagein_ingest", "monitor_report", "stream_admit"]
END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "latency_s": "s",
              "peak_rss_mb": "MB"}
NAMED_UNITS = {
    "ingest_files_per_s": "files/s", "ingest_batch_p50_s": "s",
    "monitor_report_s": "s", "admit_docs_per_s": "docs/s",
    "admit_batch_p50_s": "s",
}
PER_LAYER = {
    "ingest.plan_s": "s", "ingest.move_s": "s", "ingest.register_s": "s",
    "ingest.commit_s": "s", "ingest.jobs_per_batch": "count",
    "ingest.registry_files": "count", "ingest.registry_mb": "MB",
    "ingest.batch_slope_ms": "ms",
    "proc.read_per_payload_byte": "ratio", "proc.write_per_payload_byte": "ratio",
    "functions.fits_parse_mb_per_s": "MB/s", "functions.compact_s": "s",
    "operators.busy_s": "s", "operators.jobs": "count", "operators.stages": "count",
    "operators.tasks": "count", "operators.task_cpu_s": "s",
    "operators.input_mb": "MB", "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB", "operators.spill_mb": "MB",
    "operators.output_mb": "MB", "operators.generate_nodes": "count",
    "operators.shuffle_per_input": "ratio",
    "report.render_s": "s", "report.collected_rows": "count",
    "admit.gate_s": "s", "admit.index_append_s": "s", "admit.edges_s": "s",
    "admit.metrics_s": "s", "admit.sketch_s": "s", "admit.compact_s": "s",
    "admit.trigger_overhead_s": "s", "admit.state_mb": "MB",
    "admit.state_files": "count",
    "sources.input_mb": "MB", "sources.scan_tasks": "count",
    "driver.gap_s": "s", "jvm.gc_s": "s", "jvm.cpu_s": "s",
    "proc.cpu_util": "ratio", "trace.reconcile_err": "ratio",
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "3g"
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    """Compiles program + driver with sbt unless this digest is built;
    returns the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and benchmark driver (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    time the host gave this machine's CPUs to someone else."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return None


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no program sources under {os.path.join(ROOT, 'src')}: "
            "run from the root of a full checkout")
        return 2
    import checks
    import gen

    digest = source_digest()
    cp = build(digest)
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        t = time.monotonic()
        gen.generate(a.workload, a.seed, work)
        gen_s = time.monotonic() - t
        out = os.path.join(work, "result.json")
        cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xmn1g", "-XX:+UseParallelGC",
                f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                "-Dspark.callstack.depth=200", "-Dspark.ui.enabled=false"]
               + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--out", out])
        load_before = loadavg()
        steal0, total0 = cpu_ticks()
        left = RUN_LIMIT_S - (time.monotonic() - START)
        p = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=max(30.0, left))
        load_after = loadavg()
        steal1, total1 = cpu_ticks()
        if p.returncode != 0 or not os.path.exists(out):
            log(f"benchmark JVM exited with {p.returncode}")
            return 1
        with open(out) as f:
            result = json.load(f)
        result["seed"] = a.seed
        problems = checks.CHECKS[a.workload](work, result, corrupt=bool(a.corrupt))
        for msg in problems:
            log(f"CHECK FAILED ({a.workload}): {msg}")
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.jsonl"), os.path.join(
                BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": os.cpu_count(), "cores_used": result["cores"],
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
        "heap_max_mb": result["heap_max_mb"], "spark_version": result["spark_version"],
        "java_version": result["java_version"], "git_commit": git_commit(),
        "source_digest": digest, "rounds": result["rounds"],
        "window_s": result["window_s"], "setup_rounds_s": result["setup_rounds_s"],
        "warm_s": result["warm_s"],
        "gen_s": round(gen_s, 3), "samples_s": result["samples"],
        "end_to_end": result["end_to_end"], "outputs": result["outputs"],
        "failures": result["failures"],
        "check_failures": problems,
    }
    print(json.dumps({"run_record": record}))
    print(json.dumps({"workload": a.workload, "named_metrics": {
        k: {"value": v, "unit": NAMED_UNITS[k]} for k, v in result["named"].items()}}))
    if a.trace:
        metrics = {k: {"value": result["per_layer"].get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": result["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
