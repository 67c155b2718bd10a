"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

Checks, in about four minutes on four cores:

1. the workload names and the printed metric names and units match
   ``BENCHMARK.json``, for an untraced and a traced run;
2. a deliberately corrupted expected result (one row dropped) makes the run
   report failures, ``correct: false`` and ``ok_frac`` below 1;
3. the traced and the untraced run report the same row count for every op
   they share, and only the traced run runs the workload's ``trace_ops``;
4. the noop-sink action computes work that ``count()`` prunes: on
   ``gopher_repetition`` the full action takes several times longer.

Exits non-zero if any check fails. Named so the repository's pytest run
does not collect it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD = "scene_etl"
CORRUPT_OP = "stream_parquet_drain"
FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(f"{'PASS' if ok else 'FAIL'}: {what}", flush=True)
    if not ok:
        FAILURES.append(what)


def bench(trace: int, out: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOAD,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--out", out, *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    check(proc.returncode == 0, f"{' '.join(cmd[1:])} exits 0")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def op_rows(details: dict) -> dict:
    rows: dict[str, set] = {}
    for p in details["passes"]:
        for o in p["ops"]:
            rows.setdefault(o["op"], set()).add(o.get("rows"))
    return rows


def full_result_action() -> None:
    sys.path[:0] = [HERE, ROOT]
    import __spark_entry__ as entry
    import inputs
    import run
    from convml_data_spark import get_spark

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as work:
        run.isolate(work)
        data = os.path.join(work, "inputs")
        inputs.make_inputs(5, data)
        spark = get_spark(app_name="perfbench-selftest", extra_conf=run.spark_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        try:
            build = entry.queries()["gopher_repetition"]
            timings = {"count": [], "noop": []}
            for _ in range(2):
                for action in timings:
                    df = build(spark, data)
                    t0 = time.perf_counter()
                    if action == "count":
                        df.count()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                    timings[action].append(time.perf_counter() - t0)
        finally:
            spark.stop()
    count_s, noop_s = min(timings["count"]), min(timings["noop"])
    check(noop_s > 3 * count_s,
          f"gopher_repetition: noop sink {noop_s:.2f}s vs count() {count_s:.2f}s "
          "(the action computes columns count() prunes)")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from workloads import WORKLOADS

    check(sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS),
          "BENCHMARK.json workloads are the benchmark's workloads")
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as tmp:
        plain = bench(0, os.path.join(tmp, "plain.json"), "--corrupt", CORRUPT_OP)
        traced = bench(1, os.path.join(tmp, "traced.json"))
        with open(os.path.join(tmp, "plain.json")) as fh:
            plain_details = json.load(fh)
        with open(os.path.join(tmp, "traced.json")) as fh:
            traced_details = json.load(fh)
    for name, result in (("untraced", plain), ("traced", traced)):
        check(sorted(result) == ["attempted", "correct", "failed", "metrics"],
              f"{name} result has exactly correct/attempted/failed/metrics")
    check({k: v["unit"] for k, v in plain["metrics"].items()} == e2e,
          "untraced metric names and units match BENCHMARK.json end_to_end")
    check({k: v["unit"] for k, v in traced["metrics"].items()} == layer,
          "traced metric names and units match BENCHMARK.json per_layer")
    check(not plain["correct"] and plain["failed"] > 0
          and plain["metrics"]["ok_frac"]["value"] < 1.0
          and CORRUPT_OP in plain_details["failures"],
          f"a corrupted expected result of {CORRUPT_OP} is reported as failed")
    check(traced["correct"] and traced["failed"] == 0, "the traced run is correct")
    plain_rows, traced_rows = op_rows(plain_details), op_rows(traced_details)
    timed, extra = WORKLOADS[WORKLOAD]["ops"], WORKLOADS[WORKLOAD]["trace_ops"]
    check(sorted(plain_rows) == sorted(timed) and sorted(traced_rows) == sorted(timed + extra),
          f"the untraced run runs {timed}; the traced run adds {extra}")
    check(all(plain_rows[op] == traced_rows[op] and len(plain_rows[op]) == 1 for op in timed),
          f"traced and untraced runs report the same per-op row counts {traced_rows}")
    check(all(plain_details["rows"][op] == traced_details["rows"][op] for op in timed),
          "traced and untraced check passes collect the same row counts")
    full_result_action()
    print(f"{len(FAILURES)} check(s) failed" if FAILURES else "all checks passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
