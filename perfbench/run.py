#!/usr/bin/env python3
"""Benchmark entry point: one client, one job at a time (closed loop),
``local[<cores>]`` from this single process, against the public API of
``esri_dump_spark``.

    python3 perfbench/run.py --workload pip_tiles --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Workloads: pip_tiles, parcels_join, extract (see workloads.py).
Untraced runs print the end-to-end metrics of one workload: rows_per_s
(input rows / median timed-rep seconds), rows_per_cpu_s (input rows /
median CPU seconds of a timed rep, summed over this process, the
driver JVM and the Python workers), setup_s (session start,
dimension build and the first warm-up rep), peak_rss_mb (driver JVM
plus Python workers during the timed reps) and failed_ops_ratio (reps
that raised or failed the oracle check / reps attempted). Traced runs
(``--trace 1``) alternate untraced and traced reps to report the
tracing overhead, and print the per-layer metrics of every workload,
each measured on that workload's own inputs at the run's seed. Every
run writes its full record (rep times, CPU and steal seconds per rep,
spans, self times) under ``.perfbench_cache/records`` at the root of
the checkout; the last stdout line is the one-object JSON summary.

All fixtures, oracles, Spark scratch space and temp files stay under
``.perfbench_cache`` at the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
FIXTURES = os.path.join(CACHE, "fixtures")

MIN_REPS = 2        # timed reps even when --seconds runs out first
SETUP_REPS = 3      # dimension builds behind setup_s (median)
WARMUP_REPS = 5     # checked reps before the timed loop
UNITS = {"rows_per_s": "rows/s", "rows_per_cpu_s": "rows/cpu-s",
         "setup_s": "s", "peak_rss_mb": "MB", "failed_ops_ratio": "ratio"}


def _prepare_env() -> None:
    """Point the library, its Python workers and every temp file at
    the checkout before anything imports ``esri_dump_spark``."""
    for need in ("esri_dump_spark/__init__.py",
                 "scripts/job_spatial_tiles.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found under {ROOT}; run from "
                     "the root of a full checkout")
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(FIXTURES, exist_ok=True)
    paths = [ROOT, os.path.join(ROOT, "scripts")]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_FIXTURE_CACHE"] = FIXTURES
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too) keeps its temp files and
    # no perf-data file under the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    tempfile.tempdir = tmp
    sys.path[:0] = [HERE, *paths[:2]]


def _start_spark(run_dir: str):
    from esri_dump_spark.session import get_spark
    from esri_dump_spark.sources import fixtures

    if os.path.realpath(fixtures.FIXTURE_CACHE) != os.path.realpath(
            FIXTURES):
        raise RuntimeError(f"fixture cache is {fixtures.FIXTURE_CACHE}, "
                           f"expected {FIXTURES}")
    return get_spark(app_name="perfbench", cores=os.cpu_count(),
                     extra_conf={
                         "spark.local.dir": os.path.join(run_dir, "local"),
                         "spark.sql.warehouse.dir":
                             os.path.join(run_dir, "warehouse"),
                         "spark.ui.showConsoleProgress": "false",
                         # a heap fixed at its maximum and touched at
                         # start is resident in full whatever the GC
                         # does, which steadies peak RSS run to run
                         "spark.driver.extraJavaOptions":
                             "-XX:+AlwaysPreTouch -Xms"
                             + os.environ["SPARK_DRIVER_MEM"],
                     })


def _alive(pid: int) -> bool:
    """``pid`` exists and is not a zombie; a zombie child is reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state != "Z":
        return True
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return False


def _wait_gone(pids, timeout_s: float) -> list[int]:
    """Polls until every pid has ended or ``timeout_s`` has passed;
    returns the pids still alive."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    return left


def stop_spark(spark) -> None:
    """Stops the session, then ends the driver JVM this process
    launched and every process under it, and waits until each has
    ended. By itself the JVM exits only once its stdin pipe from this
    process closes, and its Python workers after it: both after the
    benchmark itself has exited."""
    from pyspark import SparkContext
    from tracing import descendants

    pids = set(descendants(os.getpid()))   # before orphans are reparented
    try:
        if spark is not None:
            spark.stop()
    except Exception:
        traceback.print_exc(file=sys.stderr)
    pids |= set(descendants(os.getpid()))
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.close()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()      # the JVM reads EOF and exits
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = _wait_gone(pids, 10)
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
    left = _wait_gone(pids, 10)
    if left:
        print(f"perfbench: processes {left} did not end", file=sys.stderr)


# ------------------------------------------------------------ one workload

def check_rows(wl, rows) -> bool:
    """A rep's output rows equal the engine-external oracle."""
    return rows == wl.expected


def check(wl, spark, out) -> bool:
    return check_rows(wl, wl.rows(spark, out))


def closed_loop(wl, spark, seconds: float, tracers: list, log) -> dict:
    """Timed reps back to back until ``seconds`` have passed (at least
    MIN_REPS), rep i recorded by ``tracers[i % len]``; with
    one disabled and one enabled tracer the two medians give the
    tracing overhead under the same warm-up drift. Only ``rep`` is
    timed; the output check is not."""
    from tracing import cpu_seconds, steal_seconds

    times = [[] for _ in tracers]
    cpu = [[] for _ in tracers]
    steal = [[] for _ in tracers]
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while attempted < MIN_REPS or time.perf_counter() < deadline:
        i = attempted % len(tracers)
        tracer = tracers[i]
        attempted += 1
        with tracer.span(f"{wl.name}.rep"):
            try:
                c0, s0 = cpu_seconds(), steal_seconds()
                t0 = time.perf_counter()
                out = wl.rep(spark)
                times[i].append(time.perf_counter() - t0)
                cpu[i].append(cpu_seconds() - c0)
                steal[i].append(steal_seconds() - s0)
                with tracer.span(f"{wl.name}.check"):
                    ok = check(wl, spark, out)
            except Exception:
                log(traceback.format_exc())
                ok = False
        if not ok:
            failed += 1
            log(f"{wl.name}: rep {attempted} failed its output check")
    return {"times": times, "cpu_s": cpu, "steal_s": steal,
            "attempted": attempted, "failed": failed}


def setup(wl, spark, tracer, log) -> tuple[float, int]:
    """Per-session set-up after the session is up: the dimension build
    (median of SETUP_REPS) plus the first warm-up rep. The other
    WARMUP_REPS - 1 reps run untimed so that the loop starts near
    steady state; rep times keep falling for the first few reps while
    the JVM compiles. Every warm-up rep is checked. Returns (set-up
    seconds, warm-up reps that failed)."""
    from tracing import median

    builds = []
    for _ in range(SETUP_REPS):
        with tracer.span(f"{wl.name}.setup"):
            t0 = time.perf_counter()
            wl.setup(spark)
            builds.append(time.perf_counter() - t0)
    warm, failed = [], 0
    for _ in range(WARMUP_REPS):
        with tracer.span(f"{wl.name}.warmup"):
            t0 = time.perf_counter()
            out = wl.rep(spark)
            warm.append(time.perf_counter() - t0)
        if not check(wl, spark, out):
            failed += 1
            log(f"{wl.name}: warm-up rep failed its output check")
    return median(builds) + warm[0], failed


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str = "full", spark=None, log=None) -> dict:
    """One benchmark run; returns the full record. ``spark`` reuses a
    session (the self-test); otherwise one is started and stopped."""
    from tracing import PeakRss, Tracer, median
    import workloads as W

    log = log or (lambda msg: print(msg, file=sys.stderr, flush=True))
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    run_dir = tempfile.mkdtemp(prefix=f"run-{run_id}-",
                               dir=os.path.join(CACHE, "tmp"))
    cwd = os.getcwd()
    os.chdir(run_dir)          # Spark's derby/warehouse litter lands here
    own_session = spark is None
    try:
        tracer = Tracer(run_id, enabled=trace)
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            if own_session:
                spark = _start_spark(run_dir)
        session_s = time.perf_counter() - t0

        wl = W.WORKLOADS[workload](seed, size, FIXTURES, run_dir)
        t0 = time.perf_counter()
        wl.prepare(spark)                        # cached, untimed
        prepare_s = time.perf_counter() - t0
        setup_rest, warm_failed = setup(wl, spark, tracer, log)

        # a traced run reports no end-to-end metric; its loop only
        # needs enough reps for the tracing overhead
        tracers = [Tracer(run_id, enabled=False)] + [tracer] * trace
        with PeakRss() as rss:
            loop = closed_loop(wl, spark, seconds / 3 if trace else seconds,
                               tracers, log)
        attempted = loop["attempted"] + WARMUP_REPS
        failed = loop["failed"] + warm_failed
        times, cpu = loop["times"][0], loop["cpu_s"][0]
        rep_s = median(times) if times else float("nan")
        e2e = {"rows_per_s": wl.input_rows / rep_s,
               "rows_per_cpu_s": wl.input_rows / median(cpu),
               "setup_s": session_s + setup_rest,
               "peak_rss_mb": rss.peak_mb,
               "failed_ops_ratio": failed / attempted}
        record = {"run_id": run_id, "workload": workload, "seed": seed,
                  "size": size, "cores": os.cpu_count(),
                  "input_rows": wl.input_rows, "rep_s": times,
                  "rep_s_median": rep_s, "rep_cpu_s": cpu,
                  "rep_steal_s": loop["steal_s"][0],
                  "session_start_s": session_s,
                  "prepare_s": prepare_s,
                  "end_to_end": e2e}

        if trace:
            traced = loop["times"][1]
            record["traced_rep_s"] = traced
            record["tracing_overhead"] = median(traced) / rep_s - 1.0
            layers = {"session.start_s": session_s}
            for name, cls in W.WORKLOADS.items():
                other = wl if name == workload else cls(seed, size,
                                                        FIXTURES, run_dir)
                if other is not wl:
                    # its probes would otherwise time a cold JVM
                    other.prepare(spark, with_oracle=False)
                    other.setup(spark)
                    with tracer.span(f"{name}.warmup"):
                        other.rows(spark, other.rep(spark))
                with tracer.span(f"{name}.layers"):
                    for k, v in other.layers(spark, tracer,
                                             os.cpu_count()).items():
                        layers[k if k.startswith(name + ".")
                               else f"{name}.{k}"] = v
            record["per_layer"] = layers
            record["self_times"] = tracer.self_times()
            record["spans"] = tracer.spans
        record["attempted"], record["failed"] = attempted, failed
        return record
    finally:
        if own_session:
            stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)


def write_record(record: dict) -> str:
    d = os.path.join(CACHE, "records")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, record["run_id"] + ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=float)
    return path


def metric_units() -> tuple[dict, dict]:
    """(per-layer, end-to-end) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["per_layer"]},
            {m["name"]: m["unit"] for m in spec["end_to_end"]})


def summary(record: dict, trace: bool) -> dict:
    """The contract line: end-to-end metrics untraced, per-layer traced."""
    layer_units, e2e_units = metric_units()
    if trace:
        metrics = {k: {"value": record["per_layer"][k], "unit": u}
                   for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": record["end_to_end"][k], "unit": u}
                   for k, u in e2e_units.items()}
    return {"correct": record["failed"] == 0,
            "attempted": record["attempted"], "failed": record["failed"],
            "metrics": metrics}


def print_table(record: dict) -> None:
    for k, v in record["end_to_end"].items():
        print(f"{record['workload']:>12}  {k:<40} {v:>16.6g} {UNITS[k]}")
    layer_units, _ = metric_units()
    for k, v in record.get("per_layer", {}).items():
        print(f"{'layer':>12}  {k:<40} {v:>16.6g} {layer_units.get(k, '')}")
    if "tracing_overhead" in record:
        print(f"{'trace':>12}  {'tracing_overhead':<40} "
              f"{record['tracing_overhead']:>16.6g} ratio")


# ------------------------------------------------------------ self-test

def selftest() -> int:
    """Every workload at its tiny size through the same code path:
    every named metric printed with a unit, and the output check fails
    on a perturbed row."""
    import workloads as W

    layer_units, e2e_units = metric_units()
    problems, records = [], []
    run_dir = tempfile.mkdtemp(prefix="selftest-",
                               dir=os.path.join(CACHE, "tmp"))
    spark = None
    try:
        spark = _start_spark(run_dir)
        for name in W.WORKLOADS:
            rec = run(name, 1, 1.0, True, size="tiny", spark=spark)
            records.append(write_record(rec))
            print_table(rec)
            for trace, units in ((False, e2e_units), (True, layer_units)):
                line = summary(rec, trace)
                for k, u in units.items():
                    m = line["metrics"].get(k)
                    if m is None or m["unit"] != u or not isinstance(
                            m["value"], (int, float)):
                        problems.append(f"{name}: metric {k} missing")
            if rec["failed"]:
                problems.append(f"{name}: {rec['failed']} failed reps")
            wl = W.WORKLOADS[name](1, "tiny", FIXTURES, run_dir)
            wl.prepare(spark)
            wl.setup(spark)
            out = wl.rep(spark)
            rows = wl.rows(spark, out)
            bad = [list(r) for r in rows]
            bad[0][-1] += 1
            if check_rows(wl, bad) or not check_rows(wl, rows):
                problems.append(f"{name}: check does not catch a "
                                "perturbed row")
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    path = write_record({"run_id": f"selftest-{os.getpid()}",
                         "problems": problems, "records": records})
    for p in problems:
        print(p, file=sys.stderr)
    print(json.dumps({"selftest": "passed" if not problems else "failed",
                      "problems": len(problems), "record": path}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="pip_tiles")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    # a terminated run still stops the JVM and its workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _prepare_env()
    if args.selftest:
        return selftest()
    import workloads as W
    if args.workload not in W.WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(W.WORKLOADS)}")
    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    path = write_record(record)
    print_table(record)
    print(f"full record: {path}")
    print(json.dumps(summary(record, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
