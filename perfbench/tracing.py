"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here lives in the benchmark; the program is not edited.

- ``install`` wraps the public functions of each layer module in spans
  (name, layer, start, end, parent, op id), kept in memory.
- ``job_group`` tags each op phase (build, plan, exec) with its own Spark
  job group, so the event log attributes every job to an op and phase.
- ``StreamListener`` records each streaming query and micro-batch. Micro-
  batch jobs run on the stream thread under the query's run id as job
  group, so they are attributed through the listener, not the op's group.
- ``EventLog`` parses the Spark event log offline for jobs, stages, tasks,
  CPU, GC, shuffle, spill, I/O and the Python UDF SQL metrics.
- ``pass_metrics`` joins the three into per-layer figures; ``Tracer``
  drives a traced run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import pkgutil
import statistics
import sys
import threading
import time
from collections import defaultdict

OPERATOR_LAYERS = (
    "asof", "binning", "calendar", "clustering", "corpus", "dedup", "filters",
    "grids", "images", "persist", "sampling", "scenes", "similarity", "spm", "tiler",
    "windows", "wordpiece",
)
# every layer the per-layer metrics name, in report order
LAYERS = ("pipeline", *(f"operators.{m}" for m in OPERATOR_LAYERS),
          "plans.derived", "streaming")
PYTHON_NODE_MARKERS = ("Python", "Pandas", "InArrow")
PHASE_LAYERS = {"build": "entry", "plan": "spark.plan", "exec": "spark.exec"}
DRAIN_FUNCTIONS = ("run_available_now", "drain_available_now", "drain_to_parquet",
                   "drain_partial_to_parquet")


def layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if parts[0] != "convml_data_spark" or len(parts) < 2:
        return None
    if parts[1] in ("pipeline", "session", "tables"):
        return parts[1]
    if parts[1] == "operators" and len(parts) == 3:
        return f"operators.{parts[2]}"
    if parts[1] == "plans" and len(parts) == 3:
        return f"plans.{parts[2]}"
    if parts[1] == "streaming":
        return "streaming"
    return None


class Recorder:
    """In-memory span store. Pickles to a fresh inactive recorder, so a
    wrapped function shipped to a Python worker traces nothing there."""

    def __init__(self):
        self.active = False
        self.op = None
        self.spans: list[dict] = []
        self._local = threading.local()

    def __reduce__(self):
        return (Recorder, ())

    def open(self, name: str, layer: str) -> int:
        stack = self._local.__dict__.setdefault("stack", [])
        span = {"name": name, "layer": layer, "op": self.op,
                "parent": stack[-1] if stack else None,
                "thread": threading.get_ident(), "start": time.time(), "end": None}
        self.spans.append(span)
        stack.append(len(self.spans) - 1)
        return stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.time()
        self._local.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = self.open(name, layer)
        try:
            yield
        finally:
            self.close(idx)


RECORDER = Recorder()


def _wrap(fn, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        rec = RECORDER
        if not rec.active:
            return fn(*args, **kwargs)
        idx = rec.open(fn.__name__, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            rec.close(idx)

    return traced


def install() -> int:
    """Wrap every public function of the layer modules, rebinding each
    reference to it in the package and in ``__spark_entry__``. Returns the
    number of functions wrapped."""
    import convml_data_spark
    from pyspark import cloudpickle

    for info in pkgutil.walk_packages(convml_data_spark.__path__, "convml_data_spark."):
        if layer_of(info.name):
            importlib.import_module(info.name)
    wrapped = {}
    for name, mod in list(sys.modules.items()):
        layer = layer_of(name)
        if layer is None:
            continue
        for attr, obj in vars(mod).items():
            if (inspect.isfunction(obj) and obj.__module__ == name
                    and not attr.startswith("_") and id(obj) not in wrapped):
                wrapped[id(obj)] = _wrap(obj, layer)
    for name, mod in list(sys.modules.items()):
        if not (name == "__spark_entry__" or name.startswith("convml_data_spark")):
            continue
        for attr, obj in list(vars(mod).items()):
            if id(obj) in wrapped and inspect.isfunction(obj):
                setattr(mod, attr, wrapped[id(obj)])
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    return len(wrapped)


class job_group:
    """Context manager: jobs submitted inside run under ``group``."""

    def __init__(self, sc, group: str):
        self.sc, self.group = sc, group

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return False


def make_stream_listener(recorder: Recorder):
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        """Streaming queries by run id: op, start, end, micro-batches."""

        def __init__(self):
            self.queries: dict[str, dict] = {}
            self._lock = threading.Lock()

        def _query(self, run_id) -> dict:
            with self._lock:
                return self.queries.setdefault(
                    str(run_id), {"op": recorder.op, "start": None, "end": None,
                                  "batches": []})

        def onQueryStarted(self, event):
            self._query(event.runId)["start"] = time.time()

        def onQueryProgress(self, event):
            p = event.progress
            self._query(p.runId)["batches"].append({
                "batch": p.batchId, "rows": p.numInputRows,
                "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self._query(event.runId)["end"] = time.time()

    return StreamListener()


class EventLog:
    """Jobs, stages and tasks parsed from one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.python_accums: set[int] = set()
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        if any(m in info.get("nodeName", "") for m in PYTHON_NODE_MARKERS):
            self.python_accums.update(m["accumulatorId"] for m in info.get("metrics", []))
        for child in info.get("children", []):
            self._plan(child)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": ev["Submission Time"] / 1000.0, "end": None,
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])]}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            self.stages[info["Stage ID"]] = {"submit": info.get("Submission Time", 0) / 1000.0}
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": ev["Stage ID"], "launch": info["Launch Time"] / 1000.0,
                "failed": bool(info.get("Failed")) or
                (ev.get("Task End Reason") or {}).get("Reason") != "Success",
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                "accums": [(a.get("ID"), a.get("Name"), a.get("Update"))
                           for a in info.get("Accumulables", [])]})
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(ev.get("sparkPlanInfo") or {})


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _as_int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def pass_metrics(spans: list[dict], ops: list[dict], log: EventLog,
                 streams: dict[str, dict], pass_no: int) -> dict:
    """Per-layer metrics for one traced pass. ``spans`` is the recorder's
    span list (op ids are ``<pass>:<op>``); ``ops`` carries each op's
    interval and its plan and exec seconds."""
    prefix = f"pb|{pass_no}|"
    jobs = {j: v for j, v in log.jobs.items() if (v["group"] or "").startswith(prefix)}
    run_ids = {r for r, q in streams.items() if q["op"] and q["op"].startswith(f"{pass_no}:")}
    stream_jobs = {j: v for j, v in log.jobs.items() if v["group"] in run_ids}
    build_jobs = {j: v for j, v in jobs.items() if v["group"].split("|")[2] == "build"}
    all_jobs = {**jobs, **stream_jobs}
    stage_ids = {s for v in all_jobs.values() for s in v["stages"]}
    run_stages = stage_ids & set(log.stages)
    tasks = [t for t in log.tasks if t["stage"] in run_stages]

    m: dict[str, float] = defaultdict(float)
    tag = f"{pass_no}:"
    index = {i: s for i, s in enumerate(spans)
             if s["end"] is not None and (s["op"] or "").startswith(tag)}
    children = defaultdict(list)
    for s in index.values():
        if s["parent"] in index:
            children[s["parent"]].append((s["start"], s["end"]))
    for i, s in index.items():
        layer = s["layer"]
        m[f"{layer}.self_s"] += (s["end"] - s["start"]) - _union_len(
            _clip(children[i], s["start"], s["end"]))
        p = s["parent"]
        while p is not None and spans[p]["layer"] != layer:
            p = spans[p]["parent"]
        if p is not None or layer in ("op", "entry", "spark.plan", "spark.exec"):
            continue  # only the outermost span of a layer counts its time
        m[f"{layer}.build_s"] += s["end"] - s["start"]
        m[f"{layer}.build_jobs"] += sum(
            1 for v in build_jobs.values() if s["start"] <= v["submit"] <= s["end"])
        if layer == "streaming" and s["name"] in DRAIN_FUNCTIONS:
            m["streaming.drain_s"] += s["end"] - s["start"]

    for q in (streams[r] for r in run_ids):
        m["streaming.batches"] += len(q["batches"])
        m["streaming.batch_s"] += sum(b["trigger_ms"] for b in q["batches"]) / 1e3
    m["streaming.jobs"] = len(stream_jobs)

    job_iv = [(v["submit"], v["end"]) for v in all_jobs.values() if v["end"] is not None]
    for o in ops:
        m["spark.plan_s"] += o["plan_s"]
        m["spark.exec_s"] += o.get("exec_s", 0.0)
        m["spark.idle_s"] += (o["end"] - o["start"]) - _union_len(
            _clip(job_iv, o["start"], o["end"]))
    m["spark.jobs"] = len(all_jobs)
    m["spark.build_jobs"] = len(build_jobs)
    m["spark.stages"] = len(run_stages)
    m["spark.tasks"] = len(tasks)
    m["spark.skipped_stage_frac"] = (
        (len(stage_ids) - len(run_stages)) / len(stage_ids) if stage_ids else 0.0)
    m["spark.task_failures"] = sum(t["failed"] for t in tasks)
    for key, field, scale in (
            ("spark.exec_run_s", "run_s", 1), ("spark.exec_cpu_s", "cpu_s", 1),
            ("spark.gc_s", "gc_s", 1), ("spark.shuffle_read_mb", "shuffle_read", 1e-6),
            ("spark.shuffle_write_mb", "shuffle_write", 1e-6), ("spark.spill_mb", "spill", 1e-6),
            ("spark.input_mb", "input", 1e-6), ("spark.output_mb", "output", 1e-6)):
        m[key] = sum(t[field] for t in tasks) * scale
    m["spark.task_wait_s"] = sum(
        max(0.0, t["launch"] - log.stages[t["stage"]]["submit"]) for t in tasks)
    for t in tasks:
        for acc_id, name, update in t["accums"]:
            if acc_id not in log.python_accums:
                continue
            if name == "data sent to Python workers":
                m["python.sent_mb"] += _as_int(update) * 1e-6
            elif name == "data returned from Python workers":
                m["python.recv_mb"] += _as_int(update) * 1e-6
            elif name == "number of output rows":
                m["python.rows"] += _as_int(update)
    return dict(m)


def op_job_counts(log: EventLog, streams: dict[str, dict]) -> dict[str, dict]:
    """Per op and traced pass: jobs started in each phase and by streams."""
    out: dict[str, dict] = defaultdict(lambda: defaultdict(dict))
    for v in log.jobs.values():
        g = v["group"] or ""
        if g.startswith("pb|"):
            _, pass_no, phase, op = g.split("|", 3)
            d = out[op][phase]
            d[pass_no] = d.get(pass_no, 0) + 1
        elif g in streams and streams[g]["op"]:
            pass_no, op = streams[g]["op"].split(":", 1)
            d = out[op]["stream"]
            d[pass_no] = d.get(pass_no, 0) + 1
    return {op: {ph: dict(c) for ph, c in d.items()} for op, d in out.items()}


class Tracer:
    """The traced run: spans, job groups, stream listener, event log."""

    def __init__(self):
        self.wrapped = install()
        self.listener = None
        self.log_path = None
        self.op_jobs: dict = {}

    def start(self, bench) -> None:
        sc = bench.spark.sparkContext
        self.log_path = os.path.join(sc.getConf().get("spark.eventLog.dir"), sc.applicationId)
        self.listener = make_stream_listener(RECORDER)
        bench.spark.streams.addListener(self.listener)

    @contextlib.contextmanager
    def op_scope(self, op: str, pass_no: int):
        """Attribute every span opened inside to ``<pass>:<op>``."""
        RECORDER.op, RECORDER.active = f"{pass_no}:{op}", True
        try:
            with RECORDER.span(op, "op"):
                yield
        finally:
            RECORDER.op, RECORDER.active = None, False

    @contextlib.contextmanager
    def phase(self, sc, phase: str, op: str, pass_no: int):
        """One op phase (build, plan or exec): a span and a job group."""
        with RECORDER.span(phase, PHASE_LAYERS[phase]), \
                job_group(sc, f"pb|{pass_no}|{phase}|{op}"):
            yield

    def finish(self, bench, first: dict, warm: list[dict]) -> dict:
        """Per-layer metrics: medians over the warm traced passes, or the
        traced first pass if none ran. Call after the session stopped, so
        the event log is complete."""
        log = EventLog(self.log_path)
        streams = self.listener.queries
        self.op_jobs = op_job_counts(log, streams)
        traced = [p for p in warm if p["traced"]]
        per_pass = [pass_metrics(RECORDER.spans, p["ops"], log, streams, i + 1)
                    for i, p in enumerate(traced)]
        self.first_pass = pass_metrics(RECORDER.spans, first["ops"], log, streams, 0)
        per_pass = per_pass or [self.first_pass]  # no warm pass before the deadline
        keys = set().union(*per_pass)
        out = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}
        out["spark.build_jobs_range"] = sum(
            max(c.values()) - min(c.values())
            for phases in self.op_jobs.values() for ph, c in phases.items()
            if ph == "build" and c)
        out["session.start_s"] = bench.session_start_s
        out["tables.load_s"] = bench.tables_load_s
        # each traced warm pass runs between untraced ones, which bracket its
        # place on the JIT warm-up curve; the first warm pass is still steep
        untraced = [p["wall_s"] for p in warm[1:] if not p["traced"]]
        if traced:
            out["jvm.gc_s"] = statistics.median(p["jvm_gc_s"] for p in traced)
        if traced and untraced:
            out["tracing.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                                         - statistics.median(untraced))
        return out

    def details(self) -> dict:
        return {"functions_wrapped": self.wrapped, "spans": len(RECORDER.spans),
                "op_jobs": self.op_jobs, "first_pass_layers": self.first_pass,
                "streams": self.listener.queries if self.listener else {},
                "span_list": RECORDER.spans}
