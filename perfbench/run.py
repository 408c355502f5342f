"""Benchmark launcher: one workload, one seed, one measured child process.

    python3 perfbench/run.py --workload mirror_release --seed 1 --seconds 10 --trace 0

Run it from the root of a source checkout. It

1. makes the workload's inputs from ``--seed`` (cached per seed under
   ``.perfbench/inputs``, so generation is in no metric);
2. pins the run environment: ``SPARK_GRAFT_CPUS`` = usable cores,
   ``SPARK_GRAFT_SHUFFLE`` = the same, ``SPARK_GRAFT_DRIVER_MEM``,
   ``PYTHONPATH`` (Python workers import the package), ``SPARK_LOCAL_DIRS``,
   ``PYSPARK_PYTHON`` and temporary directories inside the checkout;
3. starts ``workloads.py`` in its own process group, waits for it, then
   stops every process left in that group;
4. prints a detail line, then, as the last line, the result:
   ``{"correct", "attempted", "failed", "metrics"}``.

It exits with a non-zero code, printing no result, when the checkout
lacks the package or the child fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ensembl_database_loader_spark"
STATE = os.path.join(ROOT, ".perfbench")
#: Driver heap for ``local[N]``: the product default (16g) is the whole
#: host; the workloads need far less.
DRIVER_MEM = "2g"
#: Hard limit on the child, leaving the launcher time to clean up.
CHILD_TIMEOUT_S = 160


def pinned_env(run_dir: str) -> dict[str, str]:
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    cpus = len(os.sched_getaffinity(0))
    # Temporary files stay in the run directory: Python's tempfile reads
    # TMPDIR, the JVM needs java.io.tmpdir, and it writes its perf-data
    # file to /tmp unless that is kept in memory.
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The heap is committed and touched whole at start-up, so the driver's
    # RSS does not depend on how far the heap happened to grow by the
    # time a call is sampled.
    jvm_opts = [env.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}",
                "-XX:+PerfDisableSharedMem", f"-Xms{DRIVER_MEM}", "-XX:+AlwaysPreTouch"]
    env.update(
        TMPDIR=tmp,
        SPARK_SUBMIT_OPTS=" ".join(o for o in jvm_opts if o),
        SPARK_GRAFT_CPUS=str(cpus),
        # The product's 32 shuffle partitions suit local[32]; on a few
        # cores they multiply per-task overhead.
        SPARK_GRAFT_SHUFFLE=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return env


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(pgid: int) -> None:
    """Terminate every process in the group and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {ROOT} holds no {PACKAGE} package", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from gen import GENERATORS, ensure_inputs

    if args.workload not in GENERATORS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    inputs = ensure_inputs(os.path.join(STATE, "inputs"), args.workload, args.seed)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pinned_env(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "child.log")
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--inputs", inputs, "--run-dir", run_dir,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--result", result_path]
    try:
        with open(log_path, "w") as log:
            t0 = time.time()
            child = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=ROOT, env=env,
                                     stdout=log, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                code = child.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                stop_group(child.pid)
                child.wait()
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                tail = f.readlines()[-40:]
            print(f"perfbench: child exited with {code}\n" + "".join(tail), file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
        spans = sorted(f for f in os.listdir(run_dir) if f.startswith("spans"))
        if spans:  # traced run: keep the span dumps past the run directory
            keep = os.path.join(STATE, "spans", f"{args.workload}-{args.seed}")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for f in spans:
                shutil.move(os.path.join(run_dir, f), keep)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    got = res["metrics"]
    unknown = set(got) - {m["name"] for m in declared}
    missing = {m["name"] for m in declared} - set(got)
    if unknown or (missing and not args.trace):
        print(f"perfbench: undeclared {sorted(unknown)}, missing {sorted(missing)}",
              file=sys.stderr)
        return 1
    # A per-layer metric of a layer this workload never enters reads 0.
    metrics = {m["name"]: {"value": got.get(m["name"], 0), "unit": m["unit"]}
               for m in declared}
    env_record = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE",
                                      "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH",
                                      "SPARK_LOCAL_DIRS")}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "env": env_record,
                      "detail": res["detail"]}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
