"""Seeded, oracle-checked benchmark of dask_grblas_spark.

    python3 perfbench/run.py --workload graph_iterative --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Set-up is the session start (import of
pyspark and the program, a new JVM), timed once, plus input generation,
load and cache, timed SETUPS times in that session (the first of them on
a cold JVM); ``setup_s`` is the start plus the median load. Untimed
warm-up passes follow, at least one, while another still fits in
WARMUP_S seconds; then the timed window of ``--seconds`` runs whole
passes while one more fits, at least one. With ``--trace 1`` each traced
pass (span wrappers active) sits between two untraced ones, Spark's event
log is on for the whole process, and the per-layer metrics are reported.
Every answer is checked against an independent oracle outside the timed
interval. The last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

SETUPS = 3
# A short pass (dedup_pipeline) keeps getting faster for about 35 s of
# work, about ten passes, as the JIT compiler works; timed earlier, runs
# split into fast and slow ones. A long pass (graph_iterative) gets one
# warm-up pass.
WARMUP_S = 36
WORKLOADS = ("graph_iterative", "algebra_mixed", "dedup_pipeline")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- host sizing ------------------------------------------------------------

def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """An eighth of RAM, at most 1 GiB: the inputs are small and the
    machine's memory may be shared. The heap starts at this size too: a
    heap that grows is resized by the GC's heuristics, differently from
    run to run, and the resident set follows them; a fixed heap is fully
    touched within the warm-up."""
    return min(1024, host_mem_mb() // 8)


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


# -- Spark session ----------------------------------------------------------

class Session:
    """Owns the SparkSession and the per-run temporary directory that holds
    Spark's local, checkpoint, warehouse and event-log directories."""

    def __init__(self, tmp: str, event_log: bool):
        self.tmp = tmp
        self.event_dir = os.path.join(tmp, "events")
        self.event_log = event_log
        self.spark = None
        self.jvm_proc = None

    def start(self):
        """Start the session; later calls reuse the running one."""
        from pyspark.sql import SparkSession
        if self.spark is not None:
            return self.spark
        cores = host_cores()
        local = os.path.join(self.tmp, "local")
        os.makedirs(local, exist_ok=True)
        os.makedirs(self.event_dir, exist_ok=True)
        b = (SparkSession.builder.master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", f"{driver_heap_mb()}m")
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{driver_heap_mb()}m -Djava.io.tmpdir={local} "
                     "-XX:-UsePerfData")
             .config("spark.local.dir", local)
             .config("spark.sql.warehouse.dir",
                     os.path.join(self.tmp, "warehouse"))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.eventLog.enabled", str(self.event_log).lower())
             .config("spark.eventLog.dir", "file://" + self.event_dir)
             .config("spark.eventLog.compress", "false"))
        self.spark = b.getOrCreate()
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setCheckpointDir(os.path.join(self.tmp, "checkpoints"))
        gw = sc._gateway
        self.jvm_proc = getattr(gw, "proc", None) or self.jvm_proc
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext
        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            finally:
                SparkContext._gateway = None
                SparkContext._jvm = None
        proc = self.jvm_proc
        if proc is not None and proc.poll() is None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    def _tree_pids(self) -> list:
        """The JVM and every process below it (Python workers)."""
        if self.jvm_proc is None:
            return []
        children = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(entry))
        pids, todo = [], [self.jvm_proc.pid]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(children.get(pid, []))
        return pids

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus the JVM process tree."""
        return vm_hwm_mb("self") + sum(vm_hwm_mb(p) for p in self._tree_pids())

    def versions(self) -> dict:
        jvm = self.spark.sparkContext._jvm
        return {"spark": self.spark.version,
                "java": jvm.System.getProperty("java.version"),
                "python": platform.python_version()}


# -- passes -----------------------------------------------------------------

class Runner:
    def __init__(self, wl, session: Session, tracer=None):
        self.wl = wl
        self.session = session
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self._req_seq = 0

    def _traced_call(self, req):
        t = self.tracer
        sc = self.session.spark.sparkContext
        jsc = sc._jsc.sc()
        self._req_seq += 1
        rid = f"req-{self._req_seq}-{req.kind}"
        sc.setJobGroup(rid, req.cls)
        rec = {"id": rid, "write": req.write,
               "persisted_before": jsc.getPersistentRDDs().size()}
        rec["start_wall"] = time.time()
        t.req, t.active = rid, True
        try:
            return req.run()
        finally:
            t.active, t.req = False, None
            rec["end_wall"] = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec["persisted_after"] = jsc.getPersistentRDDs().size()
            storage = sum(i.memSize() + i.diskSize()
                          for i in jsc.getRDDStorageInfo())
            t.gauge_max("storage_mb", storage / float(1 << 20))
            t.requests.append(rec)

    def one_pass(self, traced=False):
        """Run one pass; return (wall seconds, [(class, seconds)])."""
        self.wl.reset()
        reqs = self.wl.requests()
        answers, lat = [], []
        t0 = time.perf_counter()
        for req in reqs:
            ts = time.perf_counter()
            try:
                ans = self._traced_call(req) if traced else req.run()
            except Exception as exc:     # a failed request is counted
                ans = exc
            lat.append((req.cls, time.perf_counter() - ts))
            answers.append(ans)
            if traced and req.probe is not None and \
                    not isinstance(ans, Exception):
                req.probe(self.tracer)
        pass_s = time.perf_counter() - t0
        self._check(reqs, answers)
        return pass_s, lat

    def _check(self, reqs, answers):
        ok_state = self._safe(self.wl.check_pass)
        for k, (req, ans) in enumerate(zip(reqs, answers)):
            self.attempted += 1
            good = not isinstance(ans, Exception) and self._safe(
                lambda: self.wl.check(k, req, ans))
            if req.write and not ok_state:
                good = False
            if not good:
                self.failed += 1
                why = ans if isinstance(ans, Exception) else "wrong answer"
                self.errors.append(f"{req.kind}: {why}")

    def _safe(self, fn):
        try:
            return bool(fn())
        except Exception as exc:
            self.errors.append(f"check raised {exc!r}")
            return False

    def warm_up(self, seconds):
        """Untimed whole passes, at least one, while another as long as
        the last still fits in ``seconds``."""
        t0 = time.perf_counter()
        while True:
            ts = time.perf_counter()
            self.one_pass()
            now = time.perf_counter()
            if now - t0 + (now - ts) > seconds:
                return

    def window(self, seconds, modes=(False,)):
        """Cycles of whole passes, one pass per mode (False: untraced,
        True: traced), at least one cycle, while the measured time plus one
        more median cycle fits in ``seconds`` per mode: a cycle that would
        overrun the window is not started. Returns, per mode, the pass wall
        times and the (class, latency) list."""
        out = {m: ([], []) for m in modes}
        cycles = []
        while not cycles or \
                sum(cycles) + median(cycles) <= seconds * len(modes):
            cycle = 0.0
            for m in modes:
                p, lat = self.one_pass(m)
                out[m][0].append(p)
                out[m][1].extend(lat)
                cycle += p
            cycles.append(cycle)
        return out


# -- main -------------------------------------------------------------------

def make_workload(name, seed, tmp):
    from perfbench import workloads as w
    if name == "graph_iterative":
        return w.GraphIterative(seed)
    if name == "algebra_mixed":
        return w.AlgebraMixed(seed)
    return w.DedupPipeline(seed, os.path.join(tmp, "corpus"))


def check_checkout(root):
    if not os.path.isfile(os.path.join(root, "dask_grblas_spark",
                                       "__init__.py")):
        sys.stderr.write("perfbench: run from the root of a checkout: "
                         "dask_grblas_spark/ not found in "
                         f"{root}\n")
        sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    check_checkout(root)
    sys.path.insert(0, root)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    out_dir = os.path.join(root, ".perfbench")
    tmp = os.path.join(out_dir, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # fewer glibc malloc arenas in the JVM: its resident set then depends
    # on the heap and the program, not on how many threads touched malloc
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # the launcher JVM that spark-submit starts first writes to /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    session = Session(tmp, event_log=bool(args.trace))
    try:
        return run(args, root, out_dir, tmp, session)
    finally:
        session.shutdown()
        shutil.rmtree(tmp, ignore_errors=True)


def set_up(args, tmp, session):
    """Time the session start once, then input generation, load and cache
    SETUPS times in that session; return (workload, start seconds, load
    seconds)."""
    t0 = time.perf_counter()
    session.start()
    import dask_grblas_spark as gb
    start = time.perf_counter() - t0
    wl, loads = None, []
    for _ in range(SETUPS):
        if wl is not None:
            wl.unload()
        t0 = time.perf_counter()
        wl = make_workload(args.workload, args.seed, tmp)
        wl.load(gb)
        loads.append(time.perf_counter() - t0)
    return wl, start, loads


def run(args, root, out_dir, tmp, session) -> int:
    from perfbench import gen, trace

    wl, start, loads = set_up(args, tmp, session)
    inputs_sha = gen.input_hash(wl.inp)

    tracer = None
    if args.trace:
        tracer = trace.Tracer()
        trace.install(tracer, wl)
    runner = Runner(wl, session, tracer)
    t_w = time.perf_counter()
    runner.warm_up(WARMUP_S)
    t_w = time.perf_counter() - t_w
    # a traced run brackets each traced pass between two untraced ones, so
    # both sides see the same JIT state and host load
    timed = runner.window(args.seconds, (False, True, False) if args.trace
                          else (False,))
    passes, lat = timed[False]
    peak_rss = session.peak_rss_mb()
    versions = session.versions()

    by_cls = {c: [] for c in wl.classes}
    for cls, s in lat:
        by_cls[cls].append(s)
    summary = {
        "workload": args.workload, "seed": args.seed,
        "inputs_sha256": inputs_sha,
        "host": {"cores": host_cores(), "mem_mb": host_mem_mb(),
                 "driver_heap_mb": driver_heap_mb(), **versions},
        "passes_s": passes, "session_start_s": start, "loads_s": loads,
        "warmup_s": t_w,
        "end_to_end": {
            "setup_s": [start + median(loads), "s"],
            "run_s": [median(passes), "s"],
            "fail_share": [runner.failed / max(runner.attempted, 1), "share"],
            "peak_rss_mb": [peak_rss, "MB"],
            **{f"{c}_s": [median(v), "s"] for c, v in by_cls.items()},
        },
        "errors": runner.errors[:10],
    }
    recall = getattr(wl, "lsh_recall", None)
    if recall is not None:
        summary["lsh_recall"] = recall
    if args.trace:
        session.stop()                  # flushes and closes the event log
        groups = trace.parse_event_log(session.event_dir)
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        if recall is not None:
            tracer.gauges["lsh_recall"] = recall
        traced_passes = timed[True][0]
        layer = trace.layer_metrics(tracer, groups, len(traced_passes))
        layer["trace.overhead_share"] = (median(traced_passes)
                                         / median(passes) - 1.0)
        summary["per_layer"] = layer
    print(json.dumps(summary))

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        e2e = summary["end_to_end"]
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
