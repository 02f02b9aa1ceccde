"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload elt_refresh --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The workload's inputs are generated from
``--seed`` under ``.perfbench_work/`` in the checkout, which is removed at
the end; Spark's scratch space and Python's temporary files go there too.
Spark runs on ``local[N]`` with N the usable cores, unless
``SPARK_GRAFT_CPUS`` is set.

With ``--trace 0`` the last line of standard output is the end-to-end
result; with ``--trace 1`` it holds the per-layer metrics, folded from
spans recorded around every call into the program. The line before it is
a report: the workload's metrics under their own names, every op with its
time, the set-up breakdown and the run context.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.harness import Harness, median  # noqa: E402

WORKLOADS = ("elt_refresh", "lakehouse_commits", "query_mix")

# Input sizes. "full" is what the benchmark measures; "tiny" serves the
# self-test. A run measures whole cycles until --seconds have passed, and at
# least min_cycles of them.
SCALES = {
    "full": {
        "elt_months": 3, "elt_rows_per_month": 1000,
        "query_sf": 0.01,
        "lake_rows": 8000, "lake_files": 16, "lake_window": 200,
        "min_cycles": {"elt_refresh": 1, "lakehouse_commits": 1, "query_mix": 1},
    },
    "tiny": {
        "elt_months": 2, "elt_rows_per_month": 60,
        "query_sf": 0.001,
        "lake_rows": 400, "lake_files": 4, "lake_window": 40,
        "min_cycles": {"elt_refresh": 1, "lakehouse_commits": 1, "query_mix": 1},
    },
}
SETUP_REPEATS = 3  # input generation is repeated and its median reported

# end-to-end metric -> unit; every run reports all of them. peak_rss_mb is
# in the report only: with the program's 8g driver heap the JVM's resident
# size follows G1's heap sizing, which varies from run to run.
END_TO_END = {"setup_s": "s", "cycle_s": "s", "read_s": "s", "ok_ops_frac": "ratio"}


def per_layer_units() -> dict[str, str]:
    """The per-layer metrics of BENCHMARK.json and their units. Every
    traced run reports all of them; a layer its workload does not call
    reads 0."""
    from perfbench import elt, lake, querymix

    return {
        "session.get_spark.s": "s",
        **elt.LAYER_UNITS,
        **querymix.LAYER_UNITS,
        **lake.LAYER_UNITS,
        "spark.failed_tasks": "count",
        "trace.overhead_frac": "ratio",
    }


def _usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _isolate(work: str) -> dict[str, str]:
    """Point every scratch location at ``work``; returns Spark confs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the launcher starts: no /tmp/hsperfdata, temp files in work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }


def _workload(name: str, h: Harness, work: str, seed: int, scale: dict):
    from perfbench import elt, lake, querymix

    cls = {"elt_refresh": elt.EltRefresh, "query_mix": querymix.QueryMix,
           "lakehouse_commits": lake.LakehouseCommits}[name]
    return cls(h, work, seed, scale)


def start_session(h: Harness, confs: dict):
    """Start the session through the program's ``session.get_spark``; traced,
    the start is a span of its own (no Spark jobs can run before it)."""
    from airbnb_listings_data_pipelines_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=confs)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    if h.trace:
        h.spans.append(harness.Span("session.get_spark", len(h.spans), None, t0, end=t1))
    h.spark = spark
    return spark, t1 - t0


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(name: str, seed: int, seconds: float, trace: bool, work: str, spark=None,
        confs: dict | None = None, scale: str = "full", corrupt: bool = False):
    """Set up, measure and check one workload; returns (result, report,
    harness). With ``spark`` given the session is reused and its start is
    not billed to set-up. ``corrupt`` (self-test) makes the workload spoil
    what its output checks read, so that every check must fail."""
    sc = SCALES[scale]
    h = Harness(trace)
    session_s = 0.0
    if spark is None:
        spark, session_s = start_session(h, confs or {})
    h.spark = spark
    wl = _workload(name, h, work, seed, sc)
    wl.corrupt = corrupt

    gen = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.make_inputs(os.path.join(work, f"inputs{i}"))
        gen.append(time.perf_counter() - t0)
    os.rename(os.path.join(work, f"inputs{SETUP_REPEATS - 1}"), os.path.join(work, "inputs"))
    for i in range(SETUP_REPEATS - 1):
        shutil.rmtree(os.path.join(work, f"inputs{i}"), ignore_errors=True)
    t0 = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - t0
    wl.expect()  # the checker's expected outputs: not program set-up
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + median(gen) + prepare_s + warm_s

    # set-up spans are not measured, except the session start
    h.spans = [sp for sp in h.spans if sp.name == "session.get_spark"]
    h.overhead_s = 0.0
    h.mark_jobs_seen()
    cycles: list[float] = []
    per_cycle: list[list] = []
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds or len(cycles) < sc["min_cycles"][name]:
        first = len(h.ops)
        with h.span("cycle"):
            t0 = time.perf_counter()
            timed = wl.cycle()  # a workload may leave its checks out of the time
            cycles.append(time.perf_counter() - t0 if timed is None else timed)
        per_cycle.append(h.ops[first:])
    wl.check()

    ops = [o for o in h.ops if o.kind != "check"]
    attempted = len(h.ops)
    failed = sum(1 for o in h.ops if not o.ok)
    stats = {
        "writes": [o.seconds for o in ops if o.kind == "write"],
        "reads": [o.seconds for o in ops if o.kind == "read"],
        "ops_per_min": 60.0 * len(ops) / sum(cycles),
    }
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    values = {
        "setup_s": setup_s,
        "cycle_s": median(cycles),
        "read_s": median([sum(o.seconds for o in c if o.kind == "read") for c in per_cycle]),
        "peak_rss_mb": harness.vm_hwm_mb() + harness.vm_hwm_mb(jvm_pid),
        "ok_ops_frac": 1.0 - failed / attempted,
    }
    if trace:
        units = per_layer_units()
        layer = {k: 0 for k in units}
        layer["session.get_spark.s"] = session_s
        layer.update(wl.layer_metrics())
        layer["spark.failed_tasks"] = h.failed_tasks()
        layer["trace.overhead_frac"] = h.overhead_s / sum(cycles)
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        h.write_spans(os.path.join(ROOT, ".perfbench_out", f"spans-{name}-seed{seed}.jsonl"))
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    report = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "loop": "closed", "clients": 1, "cycles": len(cycles),
        "named_metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "failed_ops_frac": {"value": failed / attempted, "unit": "ratio"},
            "peak_rss_mb": {"value": values["peak_rss_mb"], "unit": "MB"},
            **wl.named_metrics(stats),
        },
        "ops": [[o.name, round(o.seconds, 4), o.ok] for o in h.ops],
        "setup_parts_s": {"session": session_s, "inputs_median": median(gen),
                          "inputs_runs": gen, "prepare": prepare_s, "warm_up": warm_s},
        "workload_report": wl.report(),
    }
    if trace:
        report["spans"] = len(h.spans)
        report["trace_bookkeeping_s"] = h.overhead_s
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, report, h


def context(load_before: float, ticks_before: list[int]) -> dict:
    """The run context. ``contended``: the 1-minute loadavg before the run
    exceeded half the cores, or the hypervisor took over 10% of the CPU
    time during it (a virtual machine's loadavg does not show that)."""
    import pyspark

    n = _usable_cores()
    steal = harness.steal_frac(ticks_before, harness.cpu_ticks())
    return {
        "nproc": n,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "loadavg_1m_before": load_before,
        "loadavg_1m_after": harness.loadavg_1m(),
        "steal_frac": steal,
        "contended": load_before > n / 2 or steal > 0.1,
        "pyspark": pyspark.__version__,
        "git_commit": harness.git_commit(ROOT),
        "source_digest": harness.source_digest(ROOT),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before any set-up, when the program is not in the checkout
    import airbnb_listings_data_pipelines_spark  # noqa: F401

    load_before = harness.loadavg_1m()
    ticks_before = harness.cpu_ticks()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_usable_cores()))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    h = None
    try:
        confs = _isolate(work)
        result, report, h = run(args.workload, args.seed, args.seconds, bool(args.trace),
                                work, confs=confs)
        report["context"] = context(load_before, ticks_before)
    finally:
        from pyspark.sql import SparkSession

        spark = h.spark if h is not None else SparkSession.getActiveSession()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
    sys.stdout.flush()
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
