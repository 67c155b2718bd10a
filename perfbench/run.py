"""Benchmark: time each workload's ops on their full result.

    python3 perfbench/run.py --workload scene_etl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One process, one client, one op at a time
(closed loop) on ``local[4]``. A run:

1. imports the program, then, untimed and in a separate process,
   generates the seed's input tables (``inputs.py``) and computes every
   op's expected result with DuckDB (``oracle.py``);
2. sets up once: ``session.get_spark`` and one scan of each of the
   workload's input tables. ``setup_s`` is the import plus this set-up:
   the time from process start to the end of the scan, less the input and
   oracle process;
3. runs passes over the ops: in each, every op's plan is built, then its
   full result is computed through the noop sink. The first pass is cold
   (JIT and code generation); then one warm pass follows per 20 s of
   ``--seconds`` (none at 15 s). ``cpu_s`` is the CPU of all the passes.
   Every pass checks each op's row count;
4. reads peak memory, then runs an untimed check that collects every op
   and compares it with the DuckDB result.

Ops end in ``df.write.format("noop")``, never ``count()``: a count lets
Catalyst prune every column it does not need, which skips most of the work
of some ops (``selftest.py`` shows it on ``gopher_repetition``). The
per-key figures of ``bench.py`` and ``sweep.py`` time ``count()`` and
under-measure this way.

With ``--trace 1`` the run records spans, job groups, the Spark event log
and streaming progress (``tracing.py``) and prints the per-layer metrics.
It also runs the workload's ``trace_ops``, which reach the layers the timed
ops do not. Its warm passes are an untraced warm-up pass, then traced
ones between untraced ones; ``tracing.overhead_s`` is the traced median
minus the untraced median, leaving out the warm-up pass. It
also reports the wall time of the untraced warm passes (``wall_s``) and of
the cold first pass (``first_pass_s``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value, unit).
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

CORES = 4
WARM_PASS_S = 20  # a run makes one warm pass per this many seconds of ``--seconds``
DEADLINE_S = 120.0  # start no pass that would end after this; check and shutdown follow
END_TO_END = {
    "setup_s": "s", "cpu_s": "s", "mem_mb": "MB", "ok_frac": "frac",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of the traced run, with its unit."""
    from tracing import LAYERS

    units = {"session.start_s": "s", "tables.load_s": "s", "wall_s": "s", "first_pass_s": "s"}
    for layer in LAYERS:
        if layer != "streaming":
            units[f"{layer}.build_s"] = "s"
            units[f"{layer}.build_jobs"] = "count"
    units.update({
        "streaming.drain_s": "s", "streaming.batches": "count",
        "streaming.batch_s": "s", "streaming.jobs": "count",
        "spark.plan_s": "s", "spark.idle_s": "s", "spark.exec_s": "s",
        "spark.exec_cpu_s": "s", "spark.exec_run_s": "s", "spark.task_wait_s": "s",
        "spark.jobs": "count", "spark.build_jobs": "count",
        "spark.build_jobs_range": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.skipped_stage_frac": "frac",
        "spark.gc_s": "s", "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
        "spark.spill_mb": "MB", "spark.input_mb": "MB", "spark.output_mb": "MB",
        "python.sent_mb": "MB", "python.recv_mb": "MB", "python.rows": "count",
        "spark.task_failures": "count", "jvm.gc_s": "s", "tracing.overhead_s": "s",
        "jvm.live_mb": "MB", "jvm.peak_rss_mb": "MB", "python.peak_rss_mb": "MB",
    })
    for layer in ("entry", "tables", *LAYERS):
        units[f"{layer}.self_s"] = "s"
    return units


# ---------------------------------------------------------------- /proc

def _proc_tree(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of ``pids`` and their reaped children."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> dict[str, float]:
    """VmHWM in MB of each live process, keyed ``<pid> <name>``."""
    out = {}
    for pid in pids:
        name, hwm = "?", 0
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("Name:"):
                        name = line.split()[1]
                    elif line.startswith("VmHWM:"):
                        hwm = int(line.split()[1])
        except OSError:
            continue
        out[f"{pid} {name}"] = hwm / 1024.0
    return out


# ---------------------------------------------------------------- runner

def isolate(work: str) -> None:
    """Keep every file Spark, its launcher, Python workers and DuckDB write
    under ``work``, and pin the program to ``local[CORES]``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = None


def spark_conf(work: str, trace: bool = False) -> dict:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Bench:
    def __init__(self, args, work: str):
        import __spark_entry__ as entry  # fails outside a checkout of the program

        self.import_s = time.perf_counter() - T0
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        self.entry = entry
        self.queries = entry.queries()
        self.ops = list(self.wl["ops"]) + list(self.wl["trace_ops"] if args.trace else ())
        random.Random(args.seed).shuffle(self.ops)
        self.input_dir = os.path.join(work, "inputs")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.rows: dict[str, int] = {}
        self.phases: dict[str, float] = {}
        self.frames: dict = {}

    # -- inputs and expected results, in another process (untimed)
    def prepare(self) -> None:
        t0 = time.perf_counter()
        sqls = self.entry.oracle_sql()
        sql_path = os.path.join(self.work, "oracle_sql.json")
        self.expected_path = os.path.join(self.work, "expected.json")
        counts_path = os.path.join(self.work, "expected_rows.json")
        with open(sql_path, "w") as fh:
            json.dump({op: sqls[op] for op in self.ops}, fh)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), "--seed", str(self.args.seed),
             "--inputs", self.input_dir, "--sql", sql_path, "--out", self.expected_path,
             "--counts", counts_path,
             "--temp", os.path.join(self.work, "duckdb"), "--threads", str(CORES)],
            check=True, stdout=sys.stderr)
        # only the row counts are read before the check
        with open(counts_path) as fh:
            self.expected_rows = json.load(fh)
        if self.args.corrupt:
            self.expected_rows[self.args.corrupt] -= 1
        self.prepare_s = time.perf_counter() - t0

    def expected(self) -> dict:
        with open(self.expected_path) as fh:
            exp = json.load(fh)
        if self.args.corrupt:
            exp[self.args.corrupt]["rows"] = exp[self.args.corrupt]["rows"][1:]
        return exp

    def setup(self) -> None:
        """The user's set-up: import (timed in ``__init__``), session start,
        one scan of each input table."""
        from convml_data_spark import get_spark, tables

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               extra_conf=spark_conf(self.work, self.args.trace))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        for name in self.wl["tables"]:
            (tables.load_table(self.spark, self.input_dir, name)
             .write.format("noop").mode("overwrite").save())
        t2 = time.perf_counter()
        self.session_start_s = self.import_s + (t1 - t0)
        self.tables_load_s = t2 - t1
        self.setup_s = self.session_start_s + self.tables_load_s
        print(f"# setup {self.setup_s:.2f}s: import and session {self.session_start_s:.2f}s, "
              f"tables {self.tables_load_s:.2f}s", file=sys.stderr)

    def pids(self) -> list[int]:
        from pyspark import SparkContext

        return [os.getpid(), *_proc_tree(SparkContext._gateway.proc.pid)]

    def jvm_live_mb(self) -> float:
        """JVM heap and non-heap in use after a full collection."""
        mem = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mem.gc()
        used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
        return used / 2**20

    def jvm_gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    # -- one op, timed; returns its record
    def run_op(self, op: str, tracer=None, pass_no: int = 0) -> dict:
        """Build the op's plan, then compute its full result through the
        noop sink. With a tracer, each phase gets a span and a job group,
        and the physical plan is forced in a phase of its own."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sc = self.spark.sparkContext

        def phase(name: str):
            return tracer.phase(sc, name, op, pass_no) if tracer else contextlib.nullcontext()

        rec = {"op": op, "start": time.time(), "plan_s": 0.0}
        self.attempted += 1
        df = None
        try:
            with tracer.op_scope(op, pass_no) if tracer else contextlib.nullcontext():
                t0 = time.perf_counter()
                with phase("build"):
                    df = self.queries[op](self.spark, self.input_dir)
                t1 = time.perf_counter()
                if tracer:
                    with phase("plan"):
                        df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with phase("exec"):
                    obs = Observation()
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop") \
                        .mode("overwrite").save()
                    rec["rows"] = obs.get["n"]
                t3 = time.perf_counter()
            rec.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2, wall_s=t3 - t0)
        except Exception as exc:  # an op that raises is a failed op, not a crash
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            df = None
        rec["end"] = time.time()
        want = self.expected_rows[op]
        if "error" not in rec and rec["rows"] != want:
            rec["error"] = f"row count {rec['rows']} != expected {want}"
        # keep only the newest DataFrame of each op (None if it raised), for the check
        self.frames[op] = df
        if "error" in rec:
            self.fail(op, rec["error"])
        return rec

    def mark(self, phase: str) -> None:
        now = time.perf_counter() - T0
        self.phases[phase] = now
        print(f"# {now:7.2f}s {phase}", file=sys.stderr)

    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.failures.setdefault(op, why)

    def run_pass(self, tracer=None, pass_no: int = 0) -> dict:
        cpu0, gc0, steal0 = cpu_seconds(self.pids()), self.jvm_gc_s(), steal_s()
        t0 = time.perf_counter()
        ops = [self.run_op(op, tracer, pass_no) for op in self.ops]
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "cpu_s": cpu_seconds(self.pids()) - cpu0,
                "jvm_gc_s": self.jvm_gc_s() - gc0, "steal_s": steal_s() - steal0,
                "ops": ops, "traced": bool(tracer)}

    def check(self) -> None:
        """Untimed: collect each op's DataFrame from the last pass and
        compare it with the DuckDB result."""
        import oracle

        expected = self.expected()
        for op, df in self.frames.items():
            if df is None:
                continue  # the op already failed in that pass
            self.attempted += 1
            try:
                got = oracle.spark_result(df)
                self.rows[op] = len(got["rows"])
                problem = oracle.diff(expected[op], got)
            except Exception as exc:
                problem = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            if problem:
                self.fail(op, problem)

    def run_passes(self, tracer=None) -> list[dict]:
        """The cold first pass, then one warm pass per ``WARM_PASS_S`` of
        ``--seconds``. With a tracer the first pass is traced, then an
        untraced warm-up pass runs, then at least one traced warm pass, each
        between two untraced ones. No pass starts that would end, if as long
        as the last, after ``DEADLINE_S``."""
        passes = [self.run_pass(tracer, 0)]
        self.mark("first pass")
        warm = int(self.args.seconds // WARM_PASS_S)
        plan = [None, None] + [tracer, None] * max(1, warm) if tracer else [None] * warm
        for use in plan:
            if time.perf_counter() - T0 + passes[-1]["wall_s"] > DEADLINE_S:
                break
            passes.append(self.run_pass(use, sum(p["traced"] for p in passes)))
        return passes

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            children = _proc_tree(gateway.proc.pid)[1:]  # Python daemon and workers
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            deadline = time.time() + 10
            for pid in children:
                while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                    time.sleep(0.05)
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass  # it has ended


def summarise(bench: Bench, passes: list[dict], mem: dict) -> dict:
    warm = [p["wall_s"] for p in passes[1:] if not p["traced"]]
    return {
        "setup_s": bench.setup_s,
        "wall_s": statistics.median(warm or [passes[-1]["wall_s"]]),
        "cpu_s": sum(p["cpu_s"] for p in passes),
        "mem_mb": mem["python.peak_rss_mb"] + mem["jvm.live_mb"],
        "ok_frac": 1.0 - bench.failed / bench.attempted,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write per-op and per-pass details as JSON here")
    ap.add_argument("--corrupt", help="self-test: drop one expected row of this op")
    args = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", str(os.getpid()))
    isolate(work)
    bench = None
    try:
        bench = Bench(args, work)
        bench.mark("import")
        bench.prepare()
        bench.mark("inputs and oracle")
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer()
        bench.setup()
        if tracer:
            tracer.start(bench)
        bench.mark("setup")
        passes = bench.run_passes(tracer)
        bench.mark("warm passes")
        first, warm = passes[0], passes[1:]
        rss = peak_rss_mb(bench.pids())
        mem = {"python.peak_rss_mb": sum(v for k, v in rss.items() if not k.endswith(" java")),
               "jvm.peak_rss_mb": sum(v for k, v in rss.items() if k.endswith(" java")),
               "jvm.live_mb": bench.jvm_live_mb()}
        bench.check()
        bench.mark("check")
        metrics = summarise(bench, passes, mem)
        details = {"workload": args.workload, "seed": args.seed, "ops": bench.ops,
                   "rows": bench.rows, "failures": bench.failures, "phases": bench.phases,
                   "prepare_s": bench.prepare_s,
                   "rss_mb": rss, "memory": mem, "passes": passes,
                   "end_to_end": metrics}
        if tracer:
            bench.stop()
            layer = {**tracer.finish(bench, first, warm), **mem,
                     "wall_s": metrics["wall_s"], "first_pass_s": first["wall_s"]}
            details.update(tracer.details())
            details["per_layer"] = layer
            out_metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                           for k, u in per_layer_units().items()}
        else:
            out_metrics = {k: {"value": metrics[k], "unit": u}
                           for k, u in END_TO_END.items()}
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(details, fh, indent=1, sort_keys=True, default=str)
    for op, why in sorted(bench.failures.items()):
        print(f"# FAILED {op}: {why}", file=sys.stderr)
    print(f"# {args.workload} seed {args.seed}: warm passes {len(warm)} "
          f"{[round(p['wall_s'], 3) for p in warm]}, CPU steal "
          f"{[round(p['steal_s'], 2) for p in passes]}", file=sys.stderr)
    print(json.dumps({"correct": not bench.failures, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": out_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
