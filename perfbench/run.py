"""Repo benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Workloads: query_session, stream_dedup
(see perfbench/README.md). ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the engine's
module boundaries from outside and reports the per-layer metrics.

The launcher pins the run environment, builds the synthetic warehouse
once (cached under perfbench/.cache), runs the box canary, starts the
workload in a fresh Python process, waits for it and everything it
started, and prints the result as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

The full record of the run (environment pins, canary before and after,
every operation, spans) is written to perfbench/results/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sunat_rree_demo_spark"
WORKLOADS = ("query_session", "stream_dedup")

SF = 0.1
#: local[2] on a 4-vCPU box, and the JVM's JIT and GC thread pools
#: capped to match: Spark's task threads, the JIT, GC, the Python
#: driver and Spark's Python workers then fit the vCPUs without
#: queueing. With local[4] they do not, and a warm query call's wall
#: time swung by 1.5x between runs against 1.06x at local[2]; the
#: sf0.1 queries gain nothing from the other two task threads.
CPUS = 2
JVM_THREADS = ("-XX:CICompilerCount=2 -XX:ParallelGCThreads=2 "
               "-XX:ConcGCThreads=1")
DRIVER_MEM = "4g"        # fits a 15 GiB box next to other processes
WORKER_TIMEOUT_S = 170


def _source_digest() -> str:
    """sha256 of the package sources (the checkout may not be a git
    repository, so this identifies the code under test)."""
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_revision() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _group_alive(pgid: int) -> bool:
    for stat in os.listdir("/proc"):
        if not stat.isdigit():
            continue
        try:
            with open(f"/proc/{stat}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process the worker started (JVM, Python workers)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2

    sys.path.insert(0, HERE)
    import box
    import warehouse

    cache = os.path.join(HERE, ".cache")
    wh = warehouse.ensure(os.path.join(cache, "warehouse"), SF)
    scratch = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(scratch, d))
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)

    tmp = os.path.join(scratch, "tmp")
    submit = [f"--conf spark.sql.warehouse.dir={scratch}/spark-warehouse",
              "--conf spark.ui.showConsoleProgress=false"]
    if args.trace:
        # keep every job and stage of the run for the harvester
        submit += ["--conf spark.ui.retainedJobs=100000",
                   "--conf spark.ui.retainedStages=100000"]
    env = dict(os.environ)
    env.update({
        # the repo root goes to Spark's Python workers too, not only to
        # the driver: mapInPandas/UDF closures import the package there
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "TMPDIR": tmp,
        # every JVM (the launcher's too): temp files in the checkout, no
        # /tmp/hsperfdata_<user> file
        # JIT compiler threads live as long as the JVM, so the CPU meter
        # can leave their time out (see box.CpuMeter)
        "JAVA_TOOL_OPTIONS": ("-XX:-UsePerfData "
                              "-XX:-UseDynamicNumberOfCompilerThreads "
                              f"{JVM_THREADS} "
                              f"-Djava.io.tmpdir={tmp}"),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        "PERFBENCH_SCRATCH": scratch,
    })
    pins = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
                                "SPARK_LOCAL_DIRS", "PYSPARK_SUBMIT_ARGS",
                                "JAVA_TOOL_OPTIONS")}
    out = os.path.join(scratch, "result.json")
    record = os.path.join(scratch, "record.json")
    canary0, load0, steal0 = box.canary(), box.loadavg1(), box.cpu_ticks()

    env["PERFBENCH_T0"] = repr(time.monotonic())
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--warehouse", wh, "--out", out, "--record", record],
        cwd=ROOT, env=env, start_new_session=True)
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {args.workload} exceeded {WORKER_TIMEOUT_S}s",
              file=sys.stderr)
        rc = -1
    finally:
        _stop_group(proc.pid)
        proc.wait()
    steal = box.steal_share(steal0, box.cpu_ticks())
    canary1, load1 = box.canary(), box.loadavg1()

    try:
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: worker exited with {rc}", file=sys.stderr)
            return 1
        with open(out) as fh:
            result = json.load(fh)
        with open(record) as fh:
            rec = json.load(fh)
        box_vals = {"box.canary_start_s": canary0, "box.canary_end_s": canary1,
                    "box.loadavg1_start": load0, "box.loadavg1_end": load1,
                    "box.steal_share": steal}
        if args.trace:
            for k, v in box_vals.items():
                result["metrics"][k]["value"] = v
        rec.update(box=box_vals, pins=pins, cpus_nproc=os.cpu_count(),
                   git_revision=_git_revision(),
                   source_digest=_source_digest(), result=result)
        name = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
        with open(os.path.join(results, name), "w") as fh:
            json.dump(rec, fh, indent=1)
        for k, v in box_vals.items():
            print(f"{k:>20} {v:10.4f}")
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
