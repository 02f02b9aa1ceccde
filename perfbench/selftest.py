"""Self-test of the benchmark at tiny scale, in one Spark session.

    python3 perfbench/selftest.py

Checks that every end-to-end metric, and every metric of the run report,
is printed with its unit on every workload; that wrong results injected
into what each output check reads are counted as failed operations, check
by check; that traced runs emit spans for the session, plans, queries,
txlog and streaming layers; and that the metric names agree with
``BENCHMARK.json``. Exits 0 when all hold.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import querymix, run  # noqa: E402

LAYERS = ("session.", "plans.", "queries.", "txlog.", "streaming.")

# With wrong results injected, the ops whose output checks must fail
SPOILED = {
    "elt_refresh": ("plans.run_pipeline", "plans.adhoc", "plans.append_month"),
    "lakehouse_commits": ("txlog.snapshot_read", "check.snapshot_vs_model",
                          "check.mirror_vs_upstream"),
    "query_mix": (querymix.QUERIES[0],),
}


def main() -> int:
    problems: list[str] = []
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    spark = None
    try:
        confs = run._isolate(work)
        spans: set[str] = set()

        def one(name: str, trace: bool, corrupt: bool = False):
            nonlocal spark
            wdir = os.path.join(work, f"{name}-{int(trace)}-{int(corrupt)}")
            os.makedirs(wdir)
            result, report, h = run.run(name, 7, 0, trace, wdir, spark=spark, confs=confs,
                                        scale="tiny", corrupt=corrupt)
            spark = h.spark
            spans.update(sp.name for sp in h.spans)
            json.dumps(result)  # the result line must serialise
            return result, report

        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        if e2e != run.END_TO_END:
            problems.append("BENCHMARK.json end_to_end differs from run.END_TO_END")
        if layer != run.per_layer_units():
            problems.append("BENCHMARK.json per_layer differs from run.per_layer_units()")
        if sorted(w["name"] for w in bench["workloads"]) != sorted(run.WORKLOADS):
            problems.append("BENCHMARK.json workloads differ from run.WORKLOADS")

        for name in run.WORKLOADS:
            result, report = one(name, trace=True)
            if set(result["metrics"]) != set(layer):
                problems.append(f"{name}: traced run does not report the per-layer metrics")
            result, report = one(name, trace=False)
            for metric, unit in e2e.items():
                got = result["metrics"].get(metric)
                if got is None or got.get("unit") != unit:
                    problems.append(f"{name}: {metric} missing or without its unit")
                elif not math.isfinite(got["value"]) or got["value"] <= 0:
                    problems.append(f"{name}: {metric} = {got['value']} is not a positive number")
            for metric, m in report["named_metrics"].items():
                if "unit" not in m or not math.isfinite(m["value"]):
                    problems.append(f"{name}: report metric {metric} lacks a unit or a value")
            if not result["correct"] or result["failed"]:
                problems.append(f"{name}: clean run reports {result['failed']} failed ops")

            result, report = one(name, trace=False, corrupt=True)
            if result["failed"] < 1 or result["metrics"]["ok_ops_frac"]["value"] >= 1.0 \
                    or report["named_metrics"]["failed_ops_frac"]["value"] <= 0 or result["correct"]:
                problems.append(f"{name}: injected wrong results were not counted as failures")
            failed = {op for op, _s, ok in report["ops"] if not ok}
            for op in SPOILED[name]:
                if op not in failed:
                    problems.append(f"{name}: the output check of {op} missed a wrong result")

        for prefix in LAYERS:
            if not any(s.startswith(prefix) for s in spans):
                problems.append(f"no span recorded for the {prefix[:-1]} layer")
    finally:
        if spark is not None:
            run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
    for p in problems:
        print(f"FAIL {p}")
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
