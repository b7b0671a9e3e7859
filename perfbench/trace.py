"""Traced-run tooling: span wrappers, Spark event-log parser, per-layer
metrics.

Only the traced run installs the wrappers. Each wrapper records a span
(name, start, end, parent, request id) in memory; ``Tracer.dump`` writes
them out at exit. A span's self time is its duration minus the time its
child spans cover (calls are single-threaded, so children never overlap).
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time

PKG = "dask_grblas_spark"
ALGORITHMS = ("bfs_level", "sssp", "connected_components", "pagerank")
PLAN_MODULES = ("matmul", "merge", "ewise", "reduce", "extract", "assign")
DEDUP_FUNCS = ("exact_dedup", "minhash_lsh_pairs", "ngram_jaccard_pairs")
DF_ACTIONS = ("count", "collect", "toPandas", "take", "first", "head",
              "localCheckpoint", "checkpoint", "show", "toLocalIterator",
              "foreach", "isEmpty")
WRITER_ACTIONS = ("save", "parquet", "json", "csv", "orc", "text",
                  "saveAsTable", "insertInto")
READER_CALLS = ("load", "parquet", "json", "csv", "orc", "text", "table")


class Tracer:
    def __init__(self):
        self.active = False
        self.spans = []          # [id, name, start, end, parent, req]
        self._stack = []
        self.req = None
        self.requests = []       # per traced request: dict
        self.gauges = {}

    # -- spans ---------------------------------------------------------------
    def call(self, name, fn, args, kwargs):
        sid = len(self.spans)
        span = [sid, name, time.perf_counter(), None,
                self._stack[-1] if self._stack else None, self.req]
        self.spans.append(span)
        self._stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            span[3] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            return tracer.call(name, fn, args, kwargs)

        return wrapper

    def gauge_max(self, name, value):
        self.gauges[name] = max(self.gauges.get(name, value), value)

    def dump(self, path):
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"id": s[0], "name": s[1],
                                     "start": s[2], "end": s[3],
                                     "parent": s[4], "req": s[5]}) + "\n")


# -- installing wrappers ----------------------------------------------------

def _replace_everywhere(orig, wrapped):
    """Rebind every module-level and class-level reference to ``orig``
    inside the package, so ``from .plans.merge import merge_into`` call
    sites are traced too."""
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
            continue
        for k, v in list(vars(mod).items()):
            if v is orig:
                setattr(mod, k, wrapped)


def _wrap_module_functions(tracer, modname, prefix, only=None):
    mod = importlib.import_module(modname)
    for k, v in list(vars(mod).items()):
        if k.startswith("_") or not inspect.isfunction(v):
            continue
        if v.__module__ != modname or (only and k not in only):
            continue
        _replace_everywhere(v, tracer.wrap(f"{prefix}.{k}", v))


def _wrap_method(tracer, cls, attr, name):
    orig = cls.__dict__[attr]
    if isinstance(orig, property):
        setattr(cls, attr, property(tracer.wrap(name, orig.fget)))
        return
    wrapped = tracer.wrap(name, orig)
    for k, v in list(cls.__dict__.items()):
        if v is orig:       # aliases such as Expr.dup = new
            setattr(cls, k, wrapped)


def install(tracer: Tracer, workload):
    """Wrap each layer's public entry points, PySpark's blocking actions
    and the workload's ``traced_methods``. Call after the program's
    package is imported."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    core = importlib.import_module(PKG + ".core")
    expr = importlib.import_module(PKG + ".expr")
    alg = importlib.import_module(PKG + ".algorithms")
    _wrap_module_functions(tracer, alg.__name__, "algorithms",
                           only=set(alg.__all__))
    _wrap_method(tracer, expr.Expr, "new", "core.new")
    _wrap_method(tracer, expr.Updater, "update", "core.update")
    _wrap_method(tracer, core.BaseType, "nvals", "core.nvals")
    _wrap_method(tracer, core.BaseType, "checkpoint", "core.checkpoint")
    for m in PLAN_MODULES:
        _wrap_module_functions(tracer, f"{PKG}.plans.{m}", f"plans.{m}")
    for m in ("dedup", "text"):
        _wrap_module_functions(tracer, f"{PKG}.functions.{m}",
                               f"functions.{m}")
    _wrap_module_functions(tracer, f"{PKG}.sources.io", "sources.io")
    for a in DF_ACTIONS:
        _wrap_method(tracer, DataFrame, a, f"spark.{a}")
    for a in WRITER_ACTIONS:
        _wrap_method(tracer, DataFrameWriter, a, f"spark.write.{a}")
    for a in READER_CALLS:
        _wrap_method(tracer, DataFrameReader, a, f"spark.read.{a}")
    for attr, name in getattr(workload, "traced_methods", ()):
        _wrap_method(tracer, type(workload), attr, name)


# -- Spark event log --------------------------------------------------------

def _plan_nodes(info):
    """Node names of the plan that ran: cached relations and reused
    exchanges were computed elsewhere, so their subtrees are skipped."""
    stack = [info]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        yield name
        if name not in ("InMemoryTableScan", "ReusedExchange"):
            stack.extend(node.get("children", []))


def parse_event_log(event_dir: str) -> dict:
    """Per job group: jobs (with submit/complete ms), stages, task
    aggregates and SQL exchange counts."""
    files = sorted(f for f in glob.glob(os.path.join(event_dir, "**"),
                                        recursive=True) if os.path.isfile(f))
    job_group, job_iv, stage_job = {}, {}, {}
    exec_group, exec_plan = {}, {}
    tasks, stages_done = [], []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    grp = props.get("spark.jobGroup.id")
                    job_group[jid] = grp
                    job_iv[jid] = [ev["Submission Time"], None]
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None and grp is not None:
                        exec_group[int(eid)] = grp
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_iv:
                        job_iv[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    stages_done.append(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind.endswith(
                        ("SparkListenerSQLExecutionStart",
                         "SparkListenerSQLAdaptiveExecutionUpdate")):
                    exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo", {})
    groups = {}

    def g(grp):
        return groups.setdefault(grp, {
            "jobs": 0, "intervals": [], "stages": 0, "tasks": 0,
            "empty_tasks": 0, "scheduler_delay_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0,
            "spill_mb": 0.0, "exchanges": 0, "broadcast_exchanges": 0})

    for jid, grp in job_group.items():
        if grp is None:
            continue
        a = g(grp)
        a["jobs"] += 1
        start, end = job_iv[jid]
        if end is not None:
            a["intervals"].append((start / 1000.0, end / 1000.0))
    for sid in stages_done:
        grp = job_group.get(stage_job.get(sid))
        if grp is not None:
            g(grp)["stages"] += 1
    mb = 1.0 / (1 << 20)
    for ev in tasks:
        grp = job_group.get(stage_job.get(ev.get("Stage ID")))
        m = ev.get("Task Metrics")
        if grp is None or not m:
            continue
        a = g(grp)
        info = ev["Task Info"]
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        rin = (m.get("Input Metrics", {}).get("Records Read", 0)
               + sr.get("Total Records Read", 0))
        rout = (m.get("Output Metrics", {}).get("Records Written", 0)
                + sw.get("Shuffle Records Written", 0))
        a["tasks"] += 1
        a["empty_tasks"] += int(rin == 0 and rout == 0)
        dur = info["Finish Time"] - info["Launch Time"]
        busy = (m.get("Executor Run Time", 0)
                + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0))
        a["scheduler_delay_s"] += max(0, dur - busy) / 1000.0
        a["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) * mb
        a["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)) * mb
        a["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0)) * mb
    for eid, grp in exec_group.items():
        names = list(_plan_nodes(exec_plan.get(eid, {})))
        a = g(grp)
        a["exchanges"] += sum(n == "Exchange" for n in names)
        a["broadcast_exchanges"] += sum(n == "BroadcastExchange"
                                        for n in names)
    return groups


def union_length(intervals, lo, hi) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- per-layer metrics ------------------------------------------------------

def _self_times(spans):
    child = [0.0] * len(spans)
    for s in spans:
        if s[4] is not None:
            child[s[4]] += s[3] - s[2]
    return [(s[3] - s[2]) - child[s[0]] for s in spans]


def _ancestors(spans, sid):
    p = spans[sid][4]
    while p is not None:
        yield spans[p]
        p = spans[p][4]


def layer_metrics(tracer: Tracer, groups: dict, passes: int) -> dict:
    """Every per-layer metric, normalised per traced pass (counts and
    seconds per pass) unless the name says it is a share or ratio."""
    spans = tracer.spans
    selfs = _self_times(spans)
    per = 1.0 / max(passes, 1)
    out = {}

    def calls(pred):
        return sum(1 for s in spans if pred(s)) * per

    def self_sum(pred):
        return sum(selfs[s[0]] for s in spans if pred(s)) * per

    def dur_sum(pred):
        return sum(s[3] - s[2] for s in spans if pred(s)) * per

    for a in ALGORITHMS:
        out[f"algorithms.{a}.self_s"] = self_sum(
            lambda s, n=f"algorithms.{a}": s[1] == n)
    rounds_by_req = {}
    for s in spans:
        if s[1] in ("plans.matmul.vxm", "plans.matmul.mxv") and any(
                p[1].startswith("algorithms.")
                for p in _ancestors(spans, s[0])):
            rounds_by_req[s[5]] = rounds_by_req.get(s[5], 0) + 1
    out["algorithms.rounds"] = sum(rounds_by_req.values()) * per
    round_jobs = sum(groups.get(r, {}).get("jobs", 0) for r in rounds_by_req)
    out["algorithms.jobs_per_round"] = (
        round_jobs / sum(rounds_by_req.values()) if rounds_by_req else 0.0)

    for name in ("new", "update"):
        pred = (lambda s, n=f"core.{name}": s[1] == n)
        out[f"core.{name}.calls"] = calls(pred)
        out[f"core.{name}.self_s"] = self_sum(pred)
    for name in ("nvals", "checkpoint"):
        pred = (lambda s, n=f"core.{name}": s[1] == n)
        out[f"core.{name}.calls"] = calls(pred)
        out[f"core.{name}.wait_s"] = dur_sum(pred)
    writes = [r for r in tracer.requests if r["write"]]
    cuts = sum(1 for s in spans if s[1] == "spark.localCheckpoint"
               and any(r["id"] == s[5] for r in writes))
    out["core.lineage_cuts"] = cuts / len(writes) if writes else 0.0
    out["core.plan_leaves_max"] = float(tracer.gauges.get("plan_leaves", 0))

    for m in PLAN_MODULES:
        pre = f"plans.{m}."
        # calls = entries into the module from outside it
        out[f"plans.{m}.calls"] = calls(
            lambda s, pre=pre: s[1].startswith(pre) and not (
                s[4] is not None and spans[s[4]][1].startswith(pre)))
        out[f"plans.{m}.self_s"] = self_sum(
            lambda s, pre=pre: s[1].startswith(pre))

    summed = ("jobs", "stages", "tasks", "scheduler_delay_s",
              "shuffle_write_mb", "shuffle_read_mb", "exchanges",
              "broadcast_exchanges",
              "executor_run_s", "executor_cpu_s", "gc_s", "spill_mb")
    agg = {k: 0.0 for k in summed + ("empty_tasks",)}
    wall = busy = 0.0
    for r in tracer.requests:
        gstats = groups.get(r["id"])
        dur = r["end_wall"] - r["start_wall"]
        wall += dur
        if gstats is None:
            continue
        for k in agg:
            agg[k] += gstats[k]
        busy += union_length(gstats["intervals"], r["start_wall"],
                             r["end_wall"])
    out["driver.gap_s"] = (wall - busy) * per
    out["spark.busy_share"] = busy / wall if wall else 0.0
    for k in summed:
        out[f"spark.{k}"] = agg[k] * per
    out["spark.empty_task_share"] = (agg["empty_tasks"] / agg["tasks"]
                                     if agg["tasks"] else 0.0)
    out["cache.persisted_after_req"] = sum(
        max(0, r["persisted_after"] - r["persisted_before"])
        for r in tracer.requests) * per
    out["cache.storage_mb_peak"] = float(tracer.gauges.get("storage_mb", 0.0))

    for f in DEDUP_FUNCS:
        out[f"functions.dedup.{f}.self_s"] = self_sum(
            lambda s, n=f"functions.dedup.{f}": s[1] == n)
    out["functions.text.quality_score.self_s"] = self_sum(
        lambda s: s[1] == "functions.text.quality_score")
    out["functions.dedup.lsh_recall"] = float(
        tracer.gauges.get("lsh_recall", 0.0))

    # the writers are eager; a read counts from the reader call to the
    # end of the collect that reads the files (the workload's read span)
    out["sources.io.write_s"] = dur_sum(
        lambda s: s[1] in ("sources.io.documents_to_jsonl",
                           "sources.io.write_keyed"))
    out["sources.io.read_s"] = dur_sum(
        lambda s: s[1] == "sources.io.read_back")
    out["sources.io.bytes_written_per_input_byte"] = float(
        tracer.gauges.get("io_bytes_ratio", 0.0))
    return out
