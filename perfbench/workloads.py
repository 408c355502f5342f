"""The measured process: one Spark session, one workload, a closed loop.

``run.py`` starts this file as a child process with the pinned
environment, after the inputs exist. The child builds the session
(``setup_s``), warms up, then calls the workload's pipeline entry point
back to back, one call at a time from one thread, starting a call only
if, at the pace of the last one, it ends within ``--seconds`` (the first
always starts). After every call, outside the timed region, it checks the
outputs, deletes them, empties Spark's cache and collects garbage in the
Python driver and the JVM. With ``--trace 1`` every second call runs with
the layer spans installed, so traced and untraced calls share the same
warm process and ``trace.overhead_frac`` compares like with like.

It writes one JSON object to ``--result``: the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``), the operation
counts and a detail record with sample counts and tail percentiles.
"""

from __future__ import annotations

import argparse
import gc
import glob
import gzip
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from gen import MIX_RATES, PRIORITY_GROUPS, PRIORITY_SPECIES, branch_of  # noqa: E402
from stats import summarize  # noqa: E402
from trace import SparkRest, Tracer, job_span, self_times, spark_work  # noqa: E402

#: Untimed calls before measuring: the first calls pay JIT, Python
#: worker start-up and file-listing caches.
WARMUP_CALLS = 1


# -- output checks -------------------------------------------------------------


def column_digest(col: pa.ChunkedArray) -> list[int]:
    """The generator's column digest, recomputed from a parquet column."""
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        total = pc.sum(pc.binary_length(col)).as_py()
    elif pa.types.is_decimal(t):
        s = pc.sum(col).as_py()
        total = None if s is None else int(s * 100)
    elif pa.types.is_timestamp(t):
        total = pc.sum(col.cast(pa.timestamp("s"), safe=False).cast(pa.int64())).as_py()
    elif pa.types.is_date(t):
        total = pc.sum(col.cast(pa.int32()).cast(pa.int64())).as_py()
    else:
        total = pc.sum(col.cast(pa.int64())).as_py()
    return [len(col) - col.null_count, total or 0]


def table_matches(path: str, want: dict) -> bool:
    t = pq.read_table(path)
    if t.num_rows != want["rows"]:
        return False
    return all(column_digest(t.column(c)) == d for c, d in want["digest"].items())


def stored_bytes(root: str) -> int:
    """Bytes of data files under ``root`` (no markers, checksums or logs)."""
    total = 0
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files
                     if not f.startswith(("_", ".")))
    return total


# -- peak RSS ------------------------------------------------------------------


def _descendants_rss(root_pid: int) -> int:
    """RSS bytes of all descendants of ``root_pid``: the driver JVM and
    the Python workers it forks. The measuring process itself is left
    out; its memory holds the output checks, not the program's work."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    total, todo, page = 0, list(children.get(root_pid, [])), os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the child processes' RSS; ``peak()`` returns
    and resets the peak since the last call."""

    def __init__(self, interval: float = 0.1):
        self.interval, self._peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        while not self._stop.wait(self.interval):
            self._peak = max(self._peak, _descendants_rss(os.getpid()))

    def peak(self) -> int:
        p, self._peak = max(self._peak, _descendants_rss(os.getpid())), 0
        return p

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


# -- workloads -----------------------------------------------------------------


class Call:
    """The outcome of one timed pipeline call."""

    def __init__(self):
        self.wall = 0.0
        self.ready: list[float] = []  # per output unit, seconds from call start
        self.priority_ready = 0.0
        self.attempted = 1
        self.failed = 0
        self.stored = 0
        self.files = 0
        self.peak_rss = 0
        self.raised = False


class Workload:
    """One pipeline entry point, called by the loop in ``main``.

    Subclasses set ``rows`` and ``input_bytes`` (the bases of the rate
    metrics) and implement ``call`` and ``layers``."""

    sampler: RssSampler

    def install(self, tracer: Tracer) -> None:
        """Patch the product functions whose calls become spans."""

    def call(self, i: int, tracer: Tracer | None) -> Call:
        raise NotImplementedError

    def layers(self, tracer, call, work, cores) -> dict[str, float]:
        raise NotImplementedError


class Mirror(Workload):
    """``mirror()`` over a generated release: verify on, ``nproc``-way
    fan-out into the FAIR pools."""

    def __init__(self, spark, src, expected, run_dir):
        self.spark, self.work = spark, src
        self.expected, self.run_dir = expected, run_dir
        dbs = expected["databases"]
        self.rows = sum(t["rows"] for d in dbs.values() for t in d["tables"].values())
        self.input_bytes = sum(d["input_bytes"] for d in dbs.values())
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    def install(self, tracer):
        from importlib import import_module

        from pyspark.sql.readwriter import DataFrameWriter

        # The package re-exports functions named like their modules.
        mirror_mod = import_module("ensembl_database_loader_spark.pipeline.mirror")
        mysql_dump = import_module("ensembl_database_loader_spark.sources.mysql_dump")

        base = os.path.basename
        tracer.patch(mirror_mod, "read_mysql_dump", "mysql_dump.read",
                     lambda a: base(os.path.normpath(a[1])))
        tracer.patch(mysql_dump, "scan_dump_dir", "mysql_dump.scan",
                     lambda a: base(os.path.normpath(a[0])))
        tracer.patch(mysql_dump, "verify_checksums", "mysql_dump.verify",
                     lambda a: a[1].name)
        tracer.patch(DataFrameWriter, "parquet", "load.write",
                     lambda a: base(os.path.dirname(a[1])))

    def call(self, i, tracer) -> Call:
        from ensembl_database_loader_spark.pipeline.mirror import mirror

        target = os.path.join(self.run_dir, f"target{i}")
        out = Call()
        self.sampler.peak()
        t0 = time.time()
        kwargs = dict(priority_species=PRIORITY_SPECIES, priority_groups=PRIORITY_GROUPS,
                      max_concurrent=self.cpus, verify=True)
        if tracer:
            report = tracer.call("mirror", mirror, self.spark, self.work, target, **kwargs)
        else:
            report = mirror(self.spark, self.work, target, **kwargs)
        out.wall = time.time() - t0
        out.peak_rss = self.sampler.peak()
        dbs = self.expected["databases"]
        out.attempted = len(dbs)
        done = {r.database for r in report.results if r.status == "DONE" and r.analysis == "load"}
        ready = {}
        for db, facts in dbs.items():
            ok = db in done and not any(
                r.database == db and r.status == "FAILED" for r in report.results)
            marks = [os.path.join(target, db, t, "_SUCCESS") for t in facts["tables"]]
            ok = ok and all(os.path.exists(m) for m in marks)
            ok = ok and all(table_matches(os.path.join(target, db, t), want)
                            for t, want in facts["tables"].items())
            out.failed += not ok
            if ok:
                ready[db] = max(os.path.getmtime(m) for m in marks) - t0
        out.ready = list(ready.values())
        prio = [v for db, v in ready.items() if branch_of(db) >= 3]
        out.priority_ready = max(prio) if prio else out.wall
        out.stored = stored_bytes(target)
        out.files = len(glob.glob(os.path.join(target, "*", "*", "part-*")))
        shutil.rmtree(target, ignore_errors=True)
        return out

    def layers(self, tracer, call, work, cores) -> dict[str, float]:
        spans, selft = tracer.spans, self_times(tracer.spans)
        root = next(s for s in spans if s.name == "mirror")
        reads = [s for s in spans if s.name == "mysql_dump.read"]
        chains = {}
        for s in spans:
            if s.db is None:
                continue
            a, b = chains.get(s.db, (s.start, s.end))
            chains[s.db] = (min(a, s.start), max(b, s.end))
        fan_s = max(b for _, b in chains.values()) - min(a for a, _ in chains.values())
        m = {
            "mirror.route.s": min(s.start for s in reads) - root.start,
            "mirror.fanout.occupancy": sum(b - a for a, b in chains.values())
            / (cores * fan_s),
            "mirror.db_chain.s.p50": statistics.median(b - a for a, b in chains.values()),
            "mysql_dump.read.calls": len(reads),
            "mysql_dump.read.self_s": sum(selft[s.id] for s in reads),
        }
        for layer in ("mysql_dump.scan", "mysql_dump.verify", "load.write"):
            ss = [s for s in spans if s.name == layer]
            m[f"{layer}.s"] = sum(s.duration for s in ss)
            m[f"{layer}.calls"] = len(ss)
        verify = work.get("mysql_dump.verify", {})
        vbytes = sum(os.path.getsize(f) for d in self.expected["databases"]
                     for f in glob.glob(os.path.join(self.work, d, "*.gz"))
                     if not os.path.basename(f).startswith("CHECKSUMS"))
        m["mysql_dump.verify.jobs"] = verify.get("jobs", 0)
        m["mysql_dump.verify.task_s"] = verify.get("task_s", 0.0)
        m["mysql_dump.verify.bytes"] = vbytes
        m["mysql_dump.verify.mb_per_s"] = vbytes / 1e6 / m["mysql_dump.verify.s"]
        write = work.get("load.write", {})
        for k in ("jobs", "tasks", "task_cpu_s", "gc_s", "input_bytes", "output_bytes", "rows"):
            m[f"load.write.{k}"] = write.get(k, 0)
        m["load.write.files"] = call.files
        return m


class Tail(Workload):
    """``incremental_mirror`` draining a landing dir one part per
    trigger, with ``available_now``."""

    def __init__(self, spark, src, expected, run_dir):
        from ensembl_database_loader_spark.sources.mysql_ddl import parse_mysql_ddl

        self.spark, self.expected, self.run_dir = spark, expected, run_dir
        self.landing = os.path.join(src, "landing")
        with gzip.open(os.path.join(src, "exon.sql.gz"), "rt") as f:
            self.schema = parse_mysql_ddl(f.read()).tables["exon"]
        self.rows, self.input_bytes = expected["rows"], expected["input_bytes"]

    def call(self, i, tracer) -> Call:
        from ensembl_database_loader_spark.pipeline.incremental import (
            incremental_mirror,
            stream_dump_parts,
        )

        target = os.path.join(self.run_dir, f"tail{i}")
        ckpt = os.path.join(self.run_dir, f"ckpt{i}")
        out = Call()
        self.sampler.peak()
        t0 = time.time()
        span = tracer.open("stream.drain") if tracer else None
        q = incremental_mirror(
            stream_dump_parts(self.spark, self.landing, self.schema, max_files_per_trigger=1),
            target, ckpt, available_now=True,
        )
        q.awaitTermination()
        if span:
            tracer.close(span)
        out.wall = time.time() - t0
        out.peak_rss = self.sampler.peak()
        commits = sorted(glob.glob(os.path.join(ckpt, "commits", "[0-9]*")))
        out.ready = [os.path.getmtime(c) - t0 for c in commits]
        out.priority_ready = min(out.ready) if out.ready else out.wall
        self.progress = q.recentProgress
        t = pq.read_table(target)
        key = t.column(self.expected["key"])
        out.failed = int(
            q.exception() is not None
            or t.num_rows != self.rows
            or pc.count_distinct(key).as_py() != self.rows
            or any(column_digest(t.column(c)) != d for c, d in self.expected["digest"].items())
        )
        out.stored = stored_bytes(target)
        shutil.rmtree(target, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        return out

    def layers(self, tracer, call, work, cores) -> dict[str, float]:
        prog = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        dur = [p["durationMs"] for p in prog]

        def p50(key):
            return statistics.median(d.get(key, 0) for d in dur) if dur else 0.0

        return {
            "stream.triggers": len(prog),
            "stream.trigger_ms.p50": p50("triggerExecution"),
            "stream.fixed_ms.p50": statistics.median(
                d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur) if dur else 0.0,
            **{f"stream.{k}.ms": p50(k) for k in
               ("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning")},
        }


class Training(Workload):
    """``build_training_corpus`` with the default near-dup strategy, a
    benchmark slice, ``mix_rates`` and packing; the call collects the
    report and writes ``packed``."""

    def __init__(self, spark, src, expected, run_dir):
        self.spark, self.expected, self.run_dir = spark, expected, run_dir
        self.corpus = os.path.join(src, "corpus")
        self.bench = os.path.join(src, "benchmark")
        self.rows, self.input_bytes = expected["n_input"], expected["input_bytes"]

    def call(self, i, tracer) -> Call:
        from ensembl_database_loader_spark.pipeline.training import build_training_corpus

        def step(name, fn, *args, **kwargs):
            return tracer.call(name, fn, *args, **kwargs) if tracer else fn(*args, **kwargs)

        export = os.path.join(self.run_dir, f"packed{i}")
        out = Call()
        self.sampler.peak()
        t0 = time.time()
        root = tracer.open("training") if tracer else None
        docs = self.spark.read.parquet(self.corpus)
        bench = self.spark.read.parquet(self.bench)
        packed, report = step("training.build", build_training_corpus, docs, bench,
                              mix_rates=MIX_RATES)
        r = step("training.report", report.collect)[0]
        report_ready = time.time() - t0
        step("training.export", packed.write.parquet, export)
        if root:
            tracer.close(root)
        out.wall = time.time() - t0
        out.peak_rss = self.sampler.peak()
        files = glob.glob(os.path.join(export, "part-*"))
        out.ready = [os.path.getmtime(f) - t0 for f in files]
        out.priority_ready = report_ready
        n_packed = pq.read_table(export).num_rows
        out.failed = int(not (
            r.n_input == self.expected["n_input"]
            and r.n_exact == self.expected["n_exact"]
            and r.each_doc_once and r.no_overflow and r.ffd_bound_ok and r.above_lower_bound
            and n_packed == r.n_mixed
        ))
        out.stored = stored_bytes(export)
        shutil.rmtree(export, ignore_errors=True)
        return out

    def layers(self, tracer, call, work, cores) -> dict[str, float]:
        m = {}
        for step in ("build", "report", "export"):
            name = f"training.{step}"
            w = work.get(name, {})
            m[f"{name}.s"] = sum(s.duration for s in tracer.spans if s.name == name)
            for k in ("jobs", "stages", "shuffle_write_bytes", "spill_bytes"):
                m[f"{name}.{k}"] = w.get(k, 0)
        return m


class Release(Workload):
    """The backfill-plus-tail flow: ``mirror()`` loads a release, then
    ``incremental_mirror`` drains the parts that landed after it. The
    call's time is the sum of the two timed parts; the checks between
    them are outside it."""

    def __init__(self, spark, src, expected, run_dir):
        self.mirror = Mirror(spark, os.path.join(src, "release"), expected["release"], run_dir)
        self.tail = Tail(spark, os.path.join(src, "tail"), expected["tail"], run_dir)
        self.run_dir = run_dir
        self.rows = self.mirror.rows + self.tail.rows
        self.input_bytes = self.mirror.input_bytes + self.tail.input_bytes

    def install(self, tracer):
        self.mirror.install(tracer)

    def call(self, i, tracer) -> Call:
        self.mirror.sampler = self.tail.sampler = self.sampler
        a = self.mirror.call(i, tracer)
        b = self.tail.call(i, tracer)
        out = Call()
        out.wall = a.wall + b.wall
        out.ready, out.priority_ready = a.ready, a.priority_ready
        out.attempted, out.failed = a.attempted + b.attempted, a.failed + b.failed
        out.stored, out.files = a.stored + b.stored, a.files
        out.peak_rss = max(a.peak_rss, b.peak_rss)
        return out

    def layers(self, tracer, call, work, cores) -> dict[str, float]:
        return {**self.mirror.layers(tracer, call, work, cores),
                **self.tail.layers(tracer, call, work, cores)}


WORKLOADS = {
    "mirror_release": Release,
    "training_corpus": Training,
    # by hand only: the parts of mirror_release on their own, and many
    # tiny databases
    "mirror_tail": Tail,
    "mirror_many_small": Mirror,
}


# -- the loop ------------------------------------------------------------------


def traced_call(wl, i, sc, rest, cores) -> tuple[Call, dict[str, float]]:
    """One call with spans installed; returns it with its layer metrics."""
    tracer = Tracer(sc)
    wl.install(tracer)
    first_job = rest.last_job_id()
    cache_peak = [0]
    stop = threading.Event()

    def poll_cache():
        while not stop.wait(0.5):
            cache_peak[0] = max(cache_peak[0], rest.cached_bytes())

    poller = threading.Thread(target=poll_cache, daemon=True)
    poller.start()
    try:
        call = wl.call(i, tracer)
    finally:
        tracer.unpatch()
        stop.set()
        poller.join(timeout=5)
    jobs = rest.jobs_after(first_job)
    stages = rest.stages()
    by_id = {s.id: s for s in tracer.spans}
    roots = [s for s in tracer.spans if s.parent is None]

    def layer_of(job):
        sid = job_span(job)
        return by_id[sid].name if sid in by_id else "untagged"

    work = spark_work(jobs, stages, layer_of)
    total = spark_work(jobs, stages, lambda j: "all").get("all", {})
    m = wl.layers(tracer, call, work, cores)
    for k in ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = total.get(k, 0)
    m["spark.busy_frac"] = total.get("task_s", 0.0) / (call.wall * cores)
    m["spark.cached_bytes.end"] = rest.cached_bytes()
    m["spark.cached_bytes.peak"] = max(cache_peak[0], m["spark.cached_bytes.end"])
    selft = self_times(tracer.spans)
    m["unattributed.s"] = sum(selft[r.id] for r in roots)
    m["trace.spans"] = len(tracer.spans)
    tracer.dump(os.path.join(wl.run_dir, f"spans{i}.json"))
    return call, m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True,
                    help="launcher clock just before this process was started")
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from ensembl_database_loader_spark.session import get_spark

    t_import = time.time()
    spark = get_spark(app_name="perfbench")
    t_session = time.time()
    spark.range(1).count()
    t_ready = time.time()
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    with open(os.path.join(args.inputs, "expected.json")) as f:
        expected = json.load(f)
    wl = WORKLOADS[args.workload](spark, os.path.join(args.inputs, "in"), expected,
                                  args.run_dir)
    sampler = wl.sampler = RssSampler()
    rest = SparkRest(sc) if args.trace else None

    def untraced(i):
        try:
            c = wl.call(i, None)
        except Exception:  # a call that raised is a failed operation
            traceback.print_exc()
            c = Call()
            c.failed, c.raised = 1, True
        reset()
        return c

    def reset():
        # Frames a call persisted would serve the next call's identical
        # plans from cache; every call starts from an empty cache, and
        # with the garbage of earlier calls collected in both runtimes.
        spark.catalog.clearCache()
        gc.collect()
        sc._jvm.System.gc()

    def traced(i):
        c, m = traced_call(wl, i, sc, rest, cores)
        reset()
        traced_calls.append(c)
        layer_runs.append(m)

    calls, traced_calls, layer_runs = [], [], []
    try:
        warm = [untraced(-1 - i) for i in range(WARMUP_CALLS)]
        t_loop = time.time()
        i = 0
        # A call starts only if, at the pace of the last one, it ends
        # within the window; the first always starts.
        last = 0.0
        while not calls or time.time() - t_loop + last <= args.seconds:
            t_call = time.time()
            if args.trace and i % 2 == 1:
                traced(i)
            else:
                calls.append(untraced(i))
            i += 1
            last = time.time() - t_call
        if args.trace and not traced_calls:
            traced(i)
    finally:
        sampler.close()
        spark.stop()

    everything = warm + calls + traced_calls
    calls = [c for c in calls if not c.raised]
    if not calls:
        raise RuntimeError("every timed call raised")
    walls = [c.wall for c in calls]
    wall = statistics.median(walls)
    ready = [r for c in calls for r in c.ready]
    detail = {
        "wall_s": summarize(walls),
        "warmup_wall_s": [c.wall for c in warm],
        "wall_samples_s": walls,
        "peak_rss_samples_mb": [c.peak_rss / 2**20 for c in calls],
        "ready_s": summarize(ready),
        "priority_ready_s": summarize([c.priority_ready for c in calls]),
        "import_s": t_import - args.t0,
        "get_spark_s": t_session - t_import,
        "first_job_s": t_ready - t_session,
    }
    if args.trace:
        keys = layer_runs[0].keys()
        metrics = {k: statistics.median(m[k] for m in layer_runs) for k in keys}
        metrics["session.get_spark.s"] = t_session - t_import
        metrics["session.first_job.s"] = t_ready - t_session
        metrics["trace.overhead_frac"] = (
            statistics.median(c.wall for c in traced_calls) / wall - 1.0)
    else:
        metrics = {
            "setup_s": t_ready - args.t0,
            "wall_s": wall,
            "rows_per_s": wl.rows / wall,
            "input_mb_per_s": wl.input_bytes / 1e6 / wall,
            "priority_ready_s": statistics.median(c.priority_ready for c in calls),
            "db_ready_p50_s": statistics.median(ready),
            "stored_bytes_per_input_byte": statistics.median(c.stored for c in calls)
            / wl.input_bytes,
            "peak_rss_mb": statistics.median(c.peak_rss for c in calls) / 2**20,
        }
    result = {
        "attempted": sum(c.attempted for c in everything),
        "failed": sum(c.failed for c in everything),
        "metrics": metrics,
        "detail": detail,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
