"""kgloom benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload corpus_small --seed 1 --seconds 10 --trace 0

Runs from the root of a kgloom checkout.  The last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-ups per run; setup_s is their median
SETUP_REPEATS = 3
#: local[4] matches the 4-core host the benchmark is sized for
CORES = 4
HEAP = "2g"


def make_session(work: str, event_dir: str | None):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("kgloom-perfbench")
         # a fixed-size heap: a growing heap makes peak RSS depend on when
         # the collector chose to expand, not on the work done
         .config("spark.driver.memory", HEAP)
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{HEAP} -XX:-UsePerfData "
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true"))
    if event_dir is not None:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false")
             # the job-count check reads statusTracker, which keeps only
             # this many jobs
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Python driver plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def run_ops(ops, tracer, units=None, n_ops=None) -> list[dict]:
    """Closed loop, one client: the next op starts when the last ends.
    Stops after ``units`` boundary ops, or after exactly ``n_ops`` ops."""
    records = []
    done = 0
    for op in ops:
        t0 = time.perf_counter()
        ok, items = True, 0
        try:
            with tracer.span("op:" + op.kind, "client"), \
                    contextlib.redirect_stdout(io.StringIO()):
                items = op.run()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t0
        if ok:
            try:
                ok = bool(op.check())
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        if not ok:
            print(f"perfbench: {op.kind} failed its check", file=sys.stderr)
        records.append({"kind": op.kind, "seconds": dt, "items": items,
                        "ok": ok, "timed": op.timed})
        done += op.boundary
        if len(records) == n_ops or done == units:
            break
    return records


def units_for(cls, seconds: float) -> int:
    """Whole units of work that take about ``seconds`` at the workload's
    nominal unit time.  A fixed count, not a deadline: every run of a
    workload measures the same operations, however fast the host is."""
    return max(1, round(seconds / cls.UNIT_SECONDS))


def e2e_metrics(records, setups, rss_mb) -> dict:
    timed = [r for r in records if r["timed"]]
    lat = [r["seconds"] * 1000.0 for r in timed]
    busy = sum(r["seconds"] for r in timed)
    # a run holds fewer than 100 ops, so no tail percentile has ten
    # samples beyond it: the median is the only latency reported
    return {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        "items_per_s": {"value": sum(r["items"] for r in timed) / busy,
                        "unit": "1/s"},
        "op_p50_ms": {"value": statistics.median(lat), "unit": "ms"},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the program under test is the checkout's own kgloom package
    if not os.path.isfile(os.path.join(ROOT, "kgloom", "__init__.py")):
        print(f"perfbench: no kgloom package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything a run writes stays inside the checkout (a JVM's perf-data
    # file would go to /tmp, so neither JVM writes one)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        result = run_workload(args, workloads.WORKLOADS[args.workload],
                              work, os.path.join(base, "traces"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _phase(name: str, t0: float) -> None:
    print(f"perfbench: {name} {time.perf_counter() - t0:.2f}s",
          file=sys.stderr)


def run_workload(args, cls, work: str, trace_dir: str) -> dict:
    from tracing import NullTracer
    t_all = time.perf_counter()
    traced = bool(args.trace)
    event_dir = os.path.join(work, "events") if traced else None
    wl = cls(os.path.join(work, "data"), args.seed)
    wl.generate()
    _phase("generate", t_all)

    setups = []
    spark = None
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark = make_session(work, event_dir)
        with contextlib.redirect_stdout(io.StringIO()):
            wl.warm(spark)
        setups.append(time.perf_counter() - t0)
        _phase(f"setup {i}", t0)
        if i < SETUP_REPEATS - 1:
            spark.stop()
    try:
        t0 = time.perf_counter()
        wl.prepare(spark)
        _phase("prepare", t0)
        t0 = time.perf_counter()
        if not traced:
            records = run_ops(wl.ops(spark, NullTracer(), "u"), NullTracer(),
                              units=units_for(cls, args.seconds))
            metrics = e2e_metrics(records, setups, peak_rss_mb(spark))
            extra_ok = True
        else:
            import layers
            records, state, extra_ok = layers.traced_run(
                spark, wl, args, run_ops, units_for(cls, args.seconds),
                trace_dir, CORES)
        _phase("measure", t0)
    finally:
        t0 = time.perf_counter()
        shutdown(spark)
        _phase("shutdown", t0)
    if traced:
        metrics = layers.finish(state, event_dir)
    failed = sum(1 for r in records if not r["ok"])
    return {"correct": failed == 0 and extra_ok, "attempted": len(records),
            "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
